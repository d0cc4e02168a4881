package graft

import org.apache.spark.sql.functions._
import graft.ops.Features

/** Hand-case pins for the feature-engineering operators: leakage semantics,
  * tie behavior at equal timestamps, half-open interval boundaries, and the
  * decay weight function — the contracts the sf oracles exercise only
  * statistically. */
class FeaturesSpec extends SparkSpec {

  import spark.implicits._

  test("pointInTime counts strictly-before history; same-instant rows excluded") {
    // probe at t=100 for key 1; history at t=99 (before), t=100 (same
    // instant — must NOT count), t=101 (future — must NOT count)
    val probes = Seq((1L, 100L, 10L)).toDF("k", "t", "eid")
    val history = Seq(
      (1L, 99L, 1L, 5.0), (1L, 100L, 2L, 7.0), (1L, 101L, 3L, 11.0)
    ).toDF("k", "t", "hid", "price")
    val out = Features.pointInTime(probes, history).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_before") === 1L)
    assert(r.getAs[java.math.BigDecimal]("sum_before").doubleValue() === 5.0)
    assert(r.getAs[Long]("last_t") === 99L)
  }

  test("pointInTime isolates keys and yields zero-count probes with null last_t") {
    val probes = Seq((1L, 50L, 10L), (2L, 50L, 11L)).toDF("k", "t", "eid")
    val history = Seq((2L, 40L, 1L, 3.0), (2L, 45L, 2L, 4.0))
      .toDF("k", "t", "hid", "price")
    val out = Features.pointInTime(probes, history)
      .orderBy("eid").collect()
    assert(out(0).getAs[Long]("n_before") === 0L) // key 1: no history at all
    assert(out(0).isNullAt(out(0).fieldIndex("last_t")))
    assert(out(1).getAs[Long]("n_before") === 2L)
    assert(out(1).getAs[java.math.BigDecimal]("sum_before").doubleValue() === 7.0)
    assert(out(1).getAs[Long]("last_t") === 45L)
  }

  test("pointInTime never leaks the future regardless of probe position") {
    // interleaved probes see strictly-growing prefixes of the same history
    val probes = Seq((1L, 10L, 100L), (1L, 30L, 101L), (1L, 50L, 102L))
      .toDF("k", "t", "eid")
    val history = Seq((1L, 20L, 1L, 1.0), (1L, 40L, 2L, 2.0))
      .toDF("k", "t", "hid", "price")
    val got = Features.pointInTime(probes, history).orderBy("eid")
      .select($"eid", $"n_before").as[(Long, Long)].collect()
    assert(got.toSeq === Seq((100L, 0L), (101L, 1L), (102L, 2L)))
  }

  test("decayWeighted: weight 1/(1+age_days), future rows excluded") {
    val day = 86400000000L
    val asof = 10L * day
    val events = Seq(
      (1L, asof - 1L, 1.0),        // age 0 days → weight 1
      (1L, asof - day, 2.0),       // age 1 day  → weight 1/2
      (1L, asof - 3 * day, 4.0),   // age 3 days → weight 1/4
      (1L, asof + 1L, 100.0)       // future → excluded entirely
    ).toDF("k", "t_us", "value")
    val r = Features.decayWeighted(events, asof).collect().head
    assert(r.getAs[Long]("n_events") === 3L)
    assert(r.getAs[Double]("sum_value") === 7.0)
    assert(r.getAs[Double]("decayed_value") === 1.0 + 1.0 + 1.0)
  }

  test("peakConcurrency: overlap counts, half-open boundary does not") {
    val pts = Seq(
      // key "a": [0,10) and [5,15) overlap → peak 2 first reached at t=5;
      // [15,25) starts exactly when [5,15) ends → NOT concurrent with it
      ("a", 0L, 1L), ("a", 5L, 2L), ("a", 15L, 3L),
      // key "b": disjoint intervals → peak 1 at t=0
      ("b", 0L, 4L), ("b", 100L, 5L)
    ).toDF("key", "t", "id")
    val got = Features.peakConcurrency(pts, durUs = 10L)
      .orderBy("key")
      .as[(String, Int, Long)].collect()
    assert(got.toSeq === Seq(("a", 2, 5L), ("b", 1, 0L)))
  }

  test("peakConcurrency ties: first peak instant is the earliest, deterministically") {
    // two separate instants both reach peak 2 — report the first
    val pts = Seq(
      ("a", 0L, 1L), ("a", 1L, 2L),   // peak 2 at t=1
      ("a", 100L, 3L), ("a", 101L, 4L) // peak 2 again at t=101
    ).toDF("key", "t", "id")
    val got = Features.peakConcurrency(pts, durUs = 5L).collect().head
    assert(got.getAs[Int]("peak_concurrency") === 2)
    assert(got.getAs[Long]("first_peak_us") === 1L)
  }

  test("dayPartials + serveFeatures: plain features exact, decay matches row-level on exact weights") {
    val day = 86400000000L
    val asof = 10L * day
    // ages 0/1/3 → weights 1, 1/2, 1/4: per-row products are exact in
    // DECIMAL(38,6), so bucket-placement and row-placement decay agree
    // exactly and the serve path can be pinned against decayWeighted
    val events = Seq(
      (1L, 9L * day + 5L, 1.0),  // day 9, not midnight → age 0
      (1L, 8L * day + 7L, 2.0),  // day 8 → age 1
      (1L, 6L * day + 9L, 4.0),  // day 6 → age 3
      (1L, 6L * day, 8.0),       // day 6 AT midnight → age 10-6 = 4
      (2L, asof, 100.0)          // at the as-of instant → excluded
    ).toDF("k", "t_us", "value")
    val served = Features.serveFeatures(Features.dayPartials(events), asof)
      .orderBy("k").collect()
    assert(served.length === 1) // key 2 has nothing strictly before as-of
    val r = served.head
    assert(r.getAs[Long]("n_events") === 4L)
    assert(r.getAs[Double]("sum_value") === 15.0)
    assert(r.getAs[Long]("last_t") === 9L * day + 5L)
    // 1*1 + 2*(1/2) + 4*(1/4) + 8*(1/5) = 1 + 1 + 1 + 1.6
    assert(r.getAs[Double]("decayed_value") === 4.6)
    // row-level reference agrees on these exact weights (the midnight row
    // gets the same age under both formulations: elapsed 4 days exactly)
    val rowLevel = Features.decayWeighted(events, asof).collect().head
    assert(rowLevel.getAs[Double]("decayed_value") === 4.6)
  }

  test("partials merge by addition/max: split-anyhow ≡ one-shot") {
    val day = 86400000000L
    val events = (1 to 50).map(i =>
      ((i % 3).toLong, (i % 7).toLong * day + i * 1000L, i / 10.0))
      .toDF("k", "t_us", "value")
    val oneShot = Features.dayPartials(events)
    val split = Features.mergePartials(
      Features.dayPartials(events.filter($"t_us" % 2 === 0))
        .unionAll(Features.dayPartials(events.filter($"t_us" % 2 =!= 0))))
    val cols = Seq("k", "day", "at_midnight", "n", "sum_value", "max_t")
    assert(split.select(cols.map(col): _*).collect().toSet ===
      oneShot.select(cols.map(col): _*).collect().toSet)
  }

  test("streaming feature maintenance: served state ≡ batch partials; replay appends again") {
    import java.nio.file.Files
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"user_id".as("k"), unix_micros($"ts").as("t_us"), $"value")
      .withColumn("b", ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy($"t_us", $"k")))
    val dir = graft.sources.Scratch.path("graft_feat_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_feat_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 2)
    writeFile("3.parquet", $"b" === 1) // at-least-once source replays batch 1
    val stateDir = graft.sources.Scratch.dir("graft_feat_state")
    val ckpt = graft.sources.Scratch.dir("graft_feat_ckpt")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, dir.toString, ev.drop("b"), maxFilesPerTrigger = 1),
      ckpt)((b, id) => graft.streaming.StateSink.appendIdempotent(
        Features.dayPartials(b), id, stateDir))
    q.awaitTermination()
    val state = spark.read.parquet(stateDir)
    assert(state.select($"batch_id").distinct().count() === 3)
    // true batches only (0,1): served features equal the batch aggregate
    // of everything that arrived — state alone answers, history unread
    val asof = 1706745600000000L // 2024-02-01 midnight, after all events
    val cols = Seq("k", "n_events", "sum_value", "last_t", "decayed_value")
    val served = Features.serveFeatures(
        state.filter($"batch_id" < 2).drop("batch_id"), asof)
      .select(cols.map(col): _*).collect().toSet
    val batchRef = Features.serveFeatures(
        Features.dayPartials(ev.drop("b")), asof)
      .select(cols.map(col): _*).collect().toSet
    assert(served === batchRef)
    // replay caveat pinned: the redelivered batch appended EXACTLY its
    // original partial rows again (blind deterministic appends)
    val p0 = state.filter($"batch_id" === 0).drop("batch_id").collect().toSet
    val p2 = state.filter($"batch_id" === 2).drop("batch_id").collect().toSet
    assert(p2 === p0)
  }

  test("dayPartials floors pre-epoch timestamps into the correct day bucket") {
    val day = 86400000000L
    val events = Seq(
      (1L, -1L, 1.0),        // 1µs before epoch → day -1, not day 0
      (1L, -day, 2.0),       // exactly midnight of day -1
      (1L, 0L, 4.0)          // epoch midnight → day 0
    ).toDF("k", "t_us", "value")
    val got = graft.ops.Features.dayPartials(events)
      .select($"day", $"at_midnight", $"n")
      .as[(Long, Boolean, Long)].collect().toSet
    assert(got === Set((-1L, false, 1L), (-1L, true, 1L), (0L, true, 1L)))
  }

  test("decayWeighted: null-valued events count as events but add no value") {
    val day = 86400000000L
    val events = Seq(
      (1L, day - 1, Some(2.0)), (1L, day - 2, None)
    ).toDF("k", "t_us", "value")
    val r = graft.ops.Features.decayWeighted(events, asofUs = day).collect().head
    // the event HAPPENED (activity count) even if its metric is missing;
    // sums treat a missing metric as contributing nothing — pinned so a
    // refactor can't silently flip either half of that contract
    assert(r.getAs[Long]("n_events") === 2L)
    assert(r.getAs[Double]("sum_value") === 2.0)
    assert(r.getAs[Double]("decayed_value") === 2.0)
  }

  test("zFromMoments: a one-armed key yields null counts/z, not a crash or a fake verdict") {
    // an experiment key where assignment broke and ONLY arm 0 ever fired:
    // the read-out must surface the absence (nulls) rather than invent a
    // z — the SRM/absence check is the caller's gate, and a fabricated
    // number here would defeat it
    val events = Seq(("exp", 0, 1.0), ("exp", 0, 3.0)).toDF("key", "arm", "value")
    val r = graft.ops.Experiments.zFromMoments(
      graft.ops.Experiments.armMoments(events)).collect().head
    assert(r.getAs[Long]("n_a") === 2L)
    assert(r.isNullAt(r.fieldIndex("n_b")))
    assert(r.getAs[Double]("mean_a") === 2.0)
    assert(r.isNullAt(r.fieldIndex("mean_b")))
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("zFromMoments: a singleton arm (n=1) yields null z — variance is undefined") {
    // n_b = 1 → (n-1) = 0: Spark's non-ANSI divide would give NULL here
    // anyway, but DuckDB's IEEE divide gives Inf/NaN — the explicit n>1
    // gate (mirrored in the SQL oracle) is what keeps the cross-engine
    // bit-for-bit contract on singleton-arm data
    val events = Seq(
      ("exp", 0, 1.0), ("exp", 0, 3.0), ("exp", 1, 2.0)
    ).toDF("key", "arm", "value")
    val r = graft.ops.Experiments.zFromMoments(
      graft.ops.Experiments.armMoments(events)).collect().head
    assert(r.getAs[Long]("n_a") === 2L)
    assert(r.getAs[Long]("n_b") === 1L)
    assert(r.getAs[Double]("mean_b") === 2.0, "the mean IS defined at n=1")
    assert(r.isNullAt(r.fieldIndex("z")), "z must be NULL, not Inf/NaN/0")
  }

  test("zFromMoments: constant metric in both arms gives z = 0, never NaN") {
    val events = Seq(
      ("exp", 0, 5.0), ("exp", 0, 5.0), ("exp", 1, 5.0), ("exp", 1, 5.0)
    ).toDF("key", "arm", "value")
    val r = graft.ops.Experiments.zFromMoments(
      graft.ops.Experiments.armMoments(events)).collect().head
    assert(r.getAs[Double]("diff") === 0.0)
    assert(r.getAs[Double]("z") === 0.0)
    assert(!r.getAs[Double]("z").isNaN)
    assert(r.getAs[Double]("srm_chi2") === 0.0)
  }

  test("streaming A/B monitor: served z EXACTLY equals the batch operator; replay re-appends") {
    import java.nio.file.Files
    val ev = graft.sources.Tables.events(spark, sf)
      .select($"event_type".as("key"),
        ($"user_id" % 2).cast("int").as("arm"), $"value")
      .withColumn("b", ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy($"value", $"key")))
    val dir = graft.sources.Scratch.path("graft_ab_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_ab_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 2)
    writeFile("3.parquet", $"b" === 1) // at-least-once replay
    val stateDir = graft.sources.Scratch.dir("graft_ab_state")
    val ckpt = graft.sources.Scratch.dir("graft_ab_ckpt")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, dir.toString, ev.drop("b"), maxFilesPerTrigger = 1),
      ckpt)((b, id) => graft.streaming.StateSink.appendIdempotent(
        graft.ops.Experiments.armMoments(b), id, stateDir))
    q.awaitTermination()
    val state = spark.read.parquet(stateDir)
    assert(state.select($"batch_id").distinct().count() === 3)
    // served over the true batches ≡ batch operator over everything
    // arrived — bit-for-bit (decimal moments merge by addition)
    val served = graft.ops.Experiments.zFromMoments(
        graft.ops.Experiments.mergeMoments(
          state.filter($"batch_id" < 2).drop("batch_id")))
      .collect().map(_.toSeq).toSet
    val batch = graft.ops.Experiments.zFromMoments(
        graft.ops.Experiments.armMoments(ev.drop("b")))
      .collect().map(_.toSeq).toSet
    assert(served === batch)
    // replay caveat: the redelivered batch appended identical partials
    val p0 = state.filter($"batch_id" === 0).drop("batch_id").collect().toSet
    val p2 = state.filter($"batch_id" === 2).drop("batch_id").collect().toSet
    assert(p2 === p0)
  }

  test("StateSink: engine retry of the same batchId replaces, never double-counts") {
    // the Spark micro-batch engine re-runs a FAILED batch under the SAME
    // batchId — simulate that by invoking the sink twice for batch 0
    // (second call = the retry, possibly after a partial write landed)
    val dir = graft.sources.Scratch.dir("graft_sink")
    val b0 = Seq((1L, 10L), (2L, 20L)).toDF("k", "v")
    graft.streaming.StateSink.appendIdempotent(b0, 0L, dir)
    graft.streaming.StateSink.appendIdempotent(b0, 0L, dir) // engine retry
    val b1 = Seq((1L, 30L)).toDF("k", "v")
    graft.streaming.StateSink.appendIdempotent(b1, 1L, dir)
    val state = spark.read.parquet(dir)
    // batch 0's rows appear ONCE; an additive reader sums to the truth
    assert(state.count() === 3)
    assert(state.groupBy($"k").agg(sum($"v").as("s")).orderBy($"k")
      .select($"s").as[Long].collect().toSeq === Seq(40L, 20L))
    // the batch_id tag survives as the partition column for provenance
    assert(state.select($"batch_id").distinct().count() === 2)
    // a retry of an OLD batch while newer state exists must not touch it
    graft.streaming.StateSink.appendIdempotent(b0, 0L, dir)
    assert(spark.read.parquet(dir).count() === 3)
  }

  test("StateSink.run: a restart that re-runs the uncommitted batch leaves the table unchanged") {
    // the engine's own retry path: batch 1 ran and wrote, but its commit
    // never landed (deleted here), so the restarted query re-runs batch 1
    // under the SAME batchId from the offset log
    import java.nio.file.Files
    val src = graft.sources.Scratch.path("graft_retry_src")
    val batches = Seq(
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"),
      Seq((4L, 40L), (5L, 50L)).toDF("k", "v"))
    batches.zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_retry_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, src.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val dir = graft.sources.Scratch.dir("graft_retry_state")
    val ckpt = graft.sources.Scratch.dir("graft_retry_ckpt")
    def start() = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, src.toString, batches.head, maxFilesPerTrigger = 1),
      ckpt)((b, id) => graft.streaming.StateSink.appendIdempotent(
        b, id, dir))
    def rows() = spark.read.parquet(dir)
      .select($"batch_id", $"k", $"v").as[(Long, Long, Long)].collect().sorted.toSeq
    start().awaitTermination()
    val before = rows()
    assert(before.map(_._1).distinct === Seq(0L, 1L))
    assert(before.size === 5)
    Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    Files.delete(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    val q = start()
    q.awaitTermination()
    assert(q.recentProgress.exists(p => p.batchId == 1L && p.numInputRows == 2L),
      "the restart must re-run batch 1, or this spec proves nothing")
    assert(rows() === before)
  }

  test("registry feature queries: single window shuffle, no cartesian, pruned scans") {
    val ptf = planOf(graft.queries.FeatureQueries.pointInTimeFeatures(spark, sf))
    assert(!ptf.contains("CartesianProduct"))
    assert(ptf.contains("Window"))
    // events scan must not read the unused props/value columns for PIT
    val evScan = ptf.linesIterator.filter(_.contains("events.parquet")).mkString
    assert(!evScan.contains("props"))
    val conc = planOf(graft.queries.FeatureQueries.eventsConcurrency(spark, sf))
    assert(!conc.contains("CartesianProduct"))
    assert(!conc.contains("Join")) // sweep-line replaces the interval self-join
  }
}
