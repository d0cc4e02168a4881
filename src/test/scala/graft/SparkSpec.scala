package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole suite (JVM-wide; sbt forks one
  * test JVM). Mirrors GraftSession's production conf at test scale. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("graft-test", "local[4]", 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  /** The formatted physical plan, for pushdown/broadcast assertions. */
  def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString()

  /** The number of Spark jobs started while `body` runs. The listener bus
    * is drained before the count is read, so no job-start event of the
    * body is missed. */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.graft.GraftSqlShim.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    n.get()
  }
}
