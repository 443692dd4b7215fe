package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. One session per JVM (sbt forks
  * a single test JVM), small shuffle partition count so tiny-frame tests
  * don't pay 200-task overheads.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String): String = s"/root/testdata/$dir"

  /** `body`'s value and the Spark jobs started while it ran. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val n = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    GraftBridge.waitForListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      GraftBridge.waitForListenerBus(spark)
      (a, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // the raw zone's hive partitions are string-typed (Pipeline refuses
      // a session that would infer them)
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
