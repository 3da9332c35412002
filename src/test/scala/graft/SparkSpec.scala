package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = Session("4")
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf

  /** `body`'s result and the Spark jobs started on its behalf (by its
    * thread and the threads Spark runs its work on, which inherit the
    * thread's local properties), counted by a SparkListener once the
    * listener bus has delivered a marker job submitted after `body`
    * returned. */
  protected def withJobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft.jobcount.${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body") => jobs.incrementAndGet(): Unit
          case Some("drain") => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val out = try body finally sc.setLocalProperty(tag, null)
      sc.setLocalProperty(tag, "drain")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(tag, null)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the drain marker")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
