package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite, lazily created). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = graft.core.GraftSession.builder("local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** `f`'s result and the Spark jobs started while it ran. Deterministic
    * job counter: statusTracker's retained-job window is bounded
    * (negative deltas mid-suite), so count onJobStart directly.
    */
  def jobsDuring[T](f: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = f
      // listener delivery is async; every job has STARTED by the time
      // `f` returns on the driver — a short drain suffices
      Thread.sleep(1000)
      (r, n.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
