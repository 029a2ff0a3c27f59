package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs on this thread, counted by a
    * job group of this call's own. */
  protected def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"graft-spec-jobs-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "spec")
      try body finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(sc)
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  // fixed at 4 cores: specs ignore SPARK_GRAFT_CPUS (a main-only knob)
  lazy val session: SparkSession = Session.local(4, logLevel = "ERROR")
}
