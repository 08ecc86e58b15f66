package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = {} // shared session: never stop per-suite

  /** Spark jobs started while `f` runs. */
  def jobsDuring(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { f; Thread.sleep(500) } // let the async listener bus drain
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .getOrCreate()
}
