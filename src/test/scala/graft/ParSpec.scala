package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.functions.col

import graft.ops.Par

/** `Par.spread`'s decision: spread a small single-file scan to the
  * session's cores, leave anything already wide, large or streaming
  * alone — decided from the analyzed plan, so without running a job and
  * with the same answer whatever the session has cached. */
class ParSpec extends SparkSpec {

  private def spreadNoJobs(df: DataFrame): DataFrame = {
    var out: DataFrame = null
    val jobs = jobsDuring { out = Par.spread(df) }
    assert(jobs === 0, s"Par.spread ran $jobs jobs")
    out
  }

  private def spreadWidth(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed match {
      case Repartition(n, true, _) => Some(n)
      case _ => None
    }

  test("a one-file input is repartitioned to defaultParallelism") {
    val out = spreadNoJobs(sources.Tables.documents(spark, sf))
    assert(spreadWidth(out) === Some(spark.sparkContext.defaultParallelism))
  }

  test("an input holding an aggregate or a repartition comes back as is") {
    val orders = sources.Tables.orders(spark, sf)
    val agg = orders.groupBy(col("o_custkey")).count()
    val rep = orders.repartition(3)
    val withTail = rep.filter(col("o_orderkey") > 0)
    Seq(agg, rep, withTail).foreach(df => assert(spreadNoJobs(df) eq df))
  }

  test("an input above cores x maxPartitionBytes comes back as is") {
    val key = "spark.sql.files.maxPartitionBytes"
    val in = sources.Tables.lineitem(spark, sf).filter(col("l_quantity") =!= -7)
    val cores = spark.sparkContext.defaultParallelism
    assert(in.queryExecution.analyzed.stats.sizeInBytes > BigInt(cores) * 1024)
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try assert(spreadNoJobs(in) eq in)
    finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("a streaming frame passes through") {
    val stream = spark.readStream.format("rate").load()
    assert(spreadNoJobs(stream) eq stream)
  }

  test("two calls on one input give one plan, whatever is cached between") {
    val in = sources.Tables.documents(spark, sf).filter(col("doc_id") =!= -3)
    val first = spreadNoJobs(in)
    in.persist()
    try {
      val second = spreadNoJobs(in)
      assert(first.queryExecution.analyzed.canonicalized ===
        second.queryExecution.analyzed.canonicalized)
      assert(spreadWidth(second) === Some(spark.sparkContext.defaultParallelism))
    } finally in.unpersist()
  }
}
