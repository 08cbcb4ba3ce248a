package graft

import org.apache.spark.TestListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built by
  * `GraftSession` so the suites plan queries the way Bench runs them.
  *
  * INVARIANT (pinned in build.sbt via testForkedParallel=false): suites
  * execute sequentially in the forked JVM and every suite builds its own
  * inputs — no suite reads a frame that an earlier suite cached or
  * checkpointed. PlanGuardSpec relies on this to sweep the session's
  * storage (clearCache + blocking unpersist of ALL persistent RDDs)
  * before metering plans; a suite that held a localCheckpointed frame
  * across that sweep would fail with unrecoverable missing blocks.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-test-warehouse-${System.nanoTime()}")
      .config("spark.sql.streaming.checkpointLocation",
        s"/tmp/graft-test-ckpt-${System.nanoTime()}")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val Sf = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs, counted after the listener bus
    * has delivered every event (before and after, so no earlier job
    * leaks in and no job of `body` is missed). */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    TestListenerBridge.drainListeners(sc)
    sc.addSparkListener(l)
    try { body; TestListenerBridge.drainListeners(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }
}
