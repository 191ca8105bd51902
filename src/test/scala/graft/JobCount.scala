package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the scheduler jobs a block starts (an adaptive query's
  * shuffle stages are jobs of their own). Two marker jobs bracket the
  * window: the listener bus delivers one listener's events in order,
  * so a job counted is one started after the first marker and before
  * the second. */
object JobCount {
  private val Marker = "graft.test.jobcount"

  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val markers = new java.util.concurrent.atomic.AtomicInteger
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Marker) != null))
          markers.incrementAndGet()
        else if (markers.get == 1) jobs.incrementAndGet()
    }
    def mark(seen: Int): Unit = {
      sc.setLocalProperty(Marker, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Marker, null)
      val deadline = System.nanoTime() + 30000000000L
      while (markers.get < seen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markers.get == seen, "listener never saw the marker job")
    }
    sc.addSparkListener(l)
    try {
      mark(1)
      val a = body
      mark(2)
      (a, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
