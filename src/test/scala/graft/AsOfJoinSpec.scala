package graft

import org.apache.spark.sql.functions._
import graft.ops.Events
import graft.plans.{AsOfJoin, AsOfJoinExec}

/** The native as-of join operator (custom LogicalPlan + Strategy +
  * SparkPlan): semantics pinned against the composed union+window form,
  * plan shape pinned to the merge contract. */
class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def toyLeft = Seq(
    (1L, 100L, "a"), (1L, 200L, "b"), (1L, 300L, "c"),
    (2L, 150L, "d"),                    // no right row at-or-before
    (2L, 500L, "e"),
    (3L, 100L, "f")                     // key absent on the right entirely
  ).toDF("k", "t_us", "tag")

  private def toyRight = Seq(
    (1L, 100L, 10.0), (1L, 250L, 20.0), // exact tie at 100; future row at 250
    (2L, 200L, 30.0),
    (9L, 1L, 99.0)                      // key absent on the left
  ).toDF("k", "t_us", "v")

  test("native as-of join matches latest at-or-before, nulls otherwise") {
    val out = AsOfJoin(toyLeft, toyRight, "k", "t_us", Seq("v"))
      .select($"tag", $"matched_v").as[(String, Option[Double])]
      .collect().toMap
    assert(out("a") === Some(10.0), "exact time tie matches")
    assert(out("b") === Some(10.0), "250 is in the future at t=200")
    assert(out("c") === Some(20.0), "latest of the two eligible rows wins")
    assert(out("d") === None, "right rows only in the future")
    assert(out("e") === Some(30.0))
    assert(out("f") === None, "key missing on the right")
  }

  test("native ≡ composed on toy data including null keys and times") {
    val l = toyLeft.union(Seq((java.lang.Long.valueOf(4L), null.asInstanceOf[java.lang.Long], "g"))
      .toDF("k", "t_us", "tag"))
    val native = AsOfJoin(l, toyRight, "k", "t_us", Seq("v"))
      .select("k", "t_us", "tag", "matched_v").collect().toSet
    val composed = Events.asofJoin(l, toyRight, "k", "t_us", Seq("v"))
      .select("k", "t_us", "tag", "matched_v").collect().toSet
    assert(native === composed)
  }

  test("native ≡ composed on the registry's events⋈orders shape") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"user_id".as("k"), unix_micros($"ts").as("t_us"), $"event_id")
    val ord = graft.olap.StarSchema.scd1Latest(
      graft.sources.Tables.orders(spark, sf)
        .select($"o_custkey".as("k"),
          unix_micros($"o_orderdate".cast("timestamp")).as("t_us"),
          $"o_orderkey", $"o_totalprice"),
      Seq("k", "t_us"), Seq($"o_orderkey".desc))
    val native = AsOfJoin(ev, ord, "k", "t_us", Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "matched_o_orderkey", "matched_o_totalprice")
      .collect().toSet
    val composed = Events.asofJoin(ev, ord, "k", "t_us", Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "matched_o_orderkey", "matched_o_totalprice")
      .collect().toSet
    assert(native.nonEmpty && native === composed)
  }

  // AQE wraps the executed plan; collect must descend into the final plan
  private def finalPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : org.apache.spark.sql.execution.SparkPlan = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a.executedPlan
    case other => other
  }

  test("plan shape: one AsOfJoinExec, no union or window, ordering advertised") {
    val df = AsOfJoin(toyLeft, toyRight, "k", "t_us", Seq("v"))
    df.collect()
    val plan = finalPlan(df.queryExecution.executedPlan)
    val s = plan.toString
    // (QueryStageExec wraps its subtree outside `children`, so node
    // collection must go via the tree string)
    assert(s.linesIterator.count(_.matches(".*\\bAsOfJoin\\b k.*")) === 1,
      s"expected one AsOfJoinExec:\n$plan")
    assert(!s.contains("Union") && !s.contains("Window"),
      s"the native operator must not fall back to the composed form:\n$s")
    // both sides arrive co-partitioned and (key, time)-sorted
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size + s.linesIterator.count(_.contains("ShuffleQueryStage")) >= 2,
      s"both sides should hash-exchange on their key:\n$s")
    // the merge preserves left (key, time) order — a downstream
    // sortWithinPartitions on the same keys must plan NO new Sort above it
    val sorted = AsOfJoin(toyLeft, toyRight, "k", "t_us", Seq("v"))
      .sortWithinPartitions("k", "t_us")
    sorted.collect()
    val sortedPlan = finalPlan(sorted.queryExecution.executedPlan)
    val sorts = sortedPlan.toString.linesIterator
      .count(_.trim.matches(".*\\bSort \\[.*"))
    // the only sorts are the two EnsureRequirements inputs below the join
    assert(sorts <= 2,
      s"downstream sort should be elided by outputOrdering:\n$sortedPlan")
  }

  test("streaming as-of enrichment: concatenated batches equal the batch join") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"user_id".as("k"), unix_micros($"ts").as("t_us"), $"event_id")
    val ord = graft.olap.StarSchema.scd1Latest(
      graft.sources.Tables.orders(spark, sf)
        .select($"o_custkey".as("k"),
          unix_micros($"o_orderdate".cast("timestamp")).as("t_us"),
          $"o_orderkey", $"o_totalprice"),
      Seq("k", "t_us"), Seq($"o_orderkey".desc))
    val half = ev.agg(percentile_approx($"event_id", lit(0.5), lit(100)))
      .head().getLong(0)
    val srcDir = graft.sources.Scratch.path("graft_ae_src")
    Seq(ev.filter($"event_id" <= half), ev.filter($"event_id" > half))
      .zipWithIndex.foreach { case (b, i) =>
        val tmp = graft.sources.Scratch.dir("graft_ae_tmp")
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
        Thread.sleep(1000)
      }
    val out = graft.sources.Scratch.dir("graft_ae_out")
    val ckpt = graft.sources.Scratch.dir("graft_ae_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, ev, maxFilesPerTrigger = 1),
      ckpt)((b, id) => graft.streaming.StateSink.appendIdempotent(
        AsOfJoin(b, ord, "k", "t_us", Seq("o_orderkey", "o_totalprice")), id, out))
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
      .select("event_id", "matched_o_orderkey", "matched_o_totalprice")
      .collect().toSet
    val batch = AsOfJoin(ev, ord, "k", "t_us", Seq("o_orderkey", "o_totalprice"))
      .select("event_id", "matched_o_orderkey", "matched_o_totalprice")
      .collect().toSet
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("left duplicates at the same (key, time) all receive the match") {
    val l = Seq((1L, 100L, "x"), (1L, 100L, "y")).toDF("k", "t_us", "tag")
    val out = AsOfJoin(l, toyRight, "k", "t_us", Seq("v"))
      .select($"tag", $"matched_v").as[(String, Option[Double])].collect().toMap
    assert(out === Map("x" -> Some(10.0), "y" -> Some(10.0)))
  }
}
