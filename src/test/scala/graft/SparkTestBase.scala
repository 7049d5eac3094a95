package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for all suites (cheap suites, one JVM). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        "/tmp/graft-test-warehouse-" + java.util.UUID.randomUUID().toString.take(8))
      // match the Verify/Bench sessions (GraftSession.localSpark note):
      // the inferred explode null-guard duplicates gram-lambda
      // evaluation into scan stages and changes plan shapes
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Spark jobs (shuffle-map stages under AQE included) that `body`
    * starts from the calling thread, counted by a listener that sees only
    * this call's job group. */
  def jobsDuring(body: => Unit): Int = {
    val group = "graft-job-count-" + java.util.UUID.randomUUID()
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try { body; ListenerBusAccess.drain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    n.get
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  lazy val g: GraftSession = new GraftSession(spark)
}
