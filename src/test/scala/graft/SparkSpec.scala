package graft

import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = GraftSession(cores = "4")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result and the number of Spark jobs it ran. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftBridge.drainListeners(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
