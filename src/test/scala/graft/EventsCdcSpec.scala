package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.olap.StarSchema
import graft.ops.Events
import graft.sources.Tables
import graft.streaming.{EventsCdc, StateSink}

/** Structured-Streaming CDC pipeline specs: the streaming operators must
  * agree with their batch twins (one set of semantics, two execution modes),
  * and the SCD1 merge must honor delete tombstones without resurrection.
  */
class EventsCdcSpec extends SparkSpec {
  import spark.implicits._

  /** The events table split into 3 TIME-ORDERED parquet files (ascending
    * modification times) so AvailableNow + maxFilesPerTrigger=1 replays it
    * as 3 in-order micro-batches — each batch strictly newer than the
    * previous watermark, so no row is ever late-dropped and the streaming
    * result must equal the batch one. */
  private def streamDir(): String = {
    val dir = graft.sources.Scratch.path("graft_cdc_stream")
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(3).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    (1 to 3).foreach { i =>
      val tmp = graft.sources.Scratch.dir("graft_cdc_tmp")
      ev.filter($"b" === i).drop("b").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"$i.parquet"))
      Thread.sleep(1000) // distinct mod times => deterministic replay order
    }
    dir.toString
  }

  test("streaming windowed counts agree with the batch operator on finalized windows") {
    val dir = streamDir()
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventsCdc.windowedCounts(src)
      .writeStream.format("memory").queryName("cdc_windowed")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("cdc_windowed")
      .select(unix_micros($"window_start").as("window_start_us"), $"event_type",
              $"n_events", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSet
    val batch = Events.windowed(Tables.events(spark, sf))
      .as[(Long, String, Long, Double)].collect().toSet
    // append mode emits only watermark-finalized windows: a subset of batch,
    // and every emitted row must match the batch result exactly
    assert(streamed.nonEmpty, "no finalized windows emitted")
    assert(streamed.subsetOf(batch),
      s"streamed rows disagree with batch: ${streamed.diff(batch).take(3)}")
  }

  test("streaming SCD1 merge converges to the batch latest-state") {
    val dir = streamDir()
    val stateDir = graft.sources.Scratch.dir("graft_cdc_state")
    val ckpt = graft.sources.Scratch.dir("graft_cdc_ckpt")
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = StateSink.run(src, ckpt)(
      EventsCdc.scd1MergeBatch(spark, stateDir, Seq("user_id")))
    q.awaitTermination()
    val versions = EventsCdc.stateVersions(spark, stateDir)
    assert(versions.nonEmpty)
    val finalState = spark.read.parquet(s"$stateDir/v=${versions.max}")
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    val batchState = StarSchema.scd1Latest(
        Tables.events(spark, sf), Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    assert(finalState === batchState)
  }

  test("streaming sessionization equals batch minus each user's still-open session") {
    val dir = streamDir()
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = graft.streaming.StreamingSessionize.sessions(src)
      .writeStream.format("memory").queryName("cdc_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("cdc_sessions")
      .select("user_id", "session_id", "session_start_us", "session_end_us",
              "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    val batch = Events.sessionize(Tables.events(spark, sf))
      .select("user_id", "session_id", "session_start_us", "session_end_us",
              "n_events", "sum_value")
      .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
    // the stream can never emit a user's LAST session (it is still open in
    // state when the data ends); everything else must match exactly,
    // decimal-exact sums included
    val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val expected = batch.filterNot { r => lastPerUser(r._1) == r._2 }
    assert(streamed === expected)
  }

  test("streaming funnel's latest row per user equals the batch funnel") {
    val dir = streamDir()
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val steps = Seq("view", "click", "purchase")
    val q = graft.streaming.StreamingFunnel.progress(src, steps)
      .writeStream.format("memory").queryName("cdc_funnel")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitted = spark.table("cdc_funnel")
      .as[(Long, Seq[Long], Int)].collect()
    // stage only ever advances, so the max-stage row IS the latest emit
    val streamed = emitted.groupBy(_._1).view
      .mapValues(rows => rows.maxBy(_._3)).values
      .map { case (u, ts, stage) =>
        (u, ts.headOption, ts.lift(1), ts.lift(2), stage)
      }.toSet
    val batch = Events.funnel(Tables.events(spark, sf), steps)
      .select($"user_id", unix_micros($"step_1_ts"), unix_micros($"step_2_ts"),
              unix_micros($"step_3_ts"), $"stage")
      .as[(Long, Option[Long], Option[Long], Option[Long], Int)].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5)).toSet
    // in-order micro-batches, no late data: every user who entered the
    // funnel must land on exactly the batch row — timestamps included
    assert(streamed === batch)
    // per-user emits are strictly advancing stages (no duplicate stage rows)
    emitted.groupBy(_._1).foreach { case (u, rows) =>
      val stages = rows.map(_._3).sorted
      assert(stages.distinct.length === stages.length,
        s"user $u emitted duplicate stages: ${stages.mkString(",")}")
    }
  }

  test("streaming attribution equals batch minus each user's frontier conversions") {
    val dir = streamDir()
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = graft.streaming.StreamingAttribution.attribution(src)
      .writeStream.format("memory").queryName("cdc_attr")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("cdc_attr")
      .select($"user_id", $"event_id", $"us", $"value", $"first_key",
        $"last_key", $"n_by_type".getItem("view"), $"n_by_type".getItem("click"),
        $"n_touches")
      .as[(Long, Long, Long, Double, Option[String], Option[String],
        Long, Long, Long)].collect().toSet
    val batch = Events.attributionBase(Tables.events(spark, sf))
      .select($"user_id", $"event_id", $"us", $"value", $"first_key",
        $"last_key", $"n_view", $"n_click", $"n_touches")
      .as[(Long, Long, Long, Double, Option[String], Option[String],
        Long, Long, Long)].collect()
    // a conversion is emitted once its frame is provably complete: a
    // strictly-later same-user event, OR the watermark passing it (the
    // event-time-timeout flush — r13 ADVICE made `delay` bound emission
    // latency). Only conversions at the user's max seen timestamp AND at
    // or above the final watermark (ms-floored global max - 2h, the
    // sessionizeNative precedent) stay pending when the data ends —
    // everything else must match the batch operator exactly, first/last
    // keys and per-type counts included
    val frontier = Tables.events(spark, sf)
      .groupBy($"user_id").agg(max(unix_micros($"ts")).as("m"))
      .as[(Long, Long)].collect().toMap
    val maxTsUs = Tables.events(spark, sf)
      .select(max(unix_micros($"ts"))).as[Long].head()
    val wmUs = (maxTsUs / 1000) * 1000 - 2L * 3600 * 1000000
    val expected = batch
      .filterNot(r => r._3 == frontier(r._1) && r._3 >= wmUs).toSet
    // the flush must actually fire: some frontier conversions sit below
    // the final watermark and are emitted ONLY by the timeout path
    assert(batch.exists(r => r._3 == frontier(r._1) && r._3 < wmUs),
      "testdata should have watermark-flushable frontier conversions")
    assert(streamed.nonEmpty, "no attributed conversions emitted")
    assert(streamed === expected,
      s"diff sample: ${streamed.diff(expected).take(2)} / ${expected.diff(streamed).take(2)}")
  }

  test("streaming attribution NULL ts: irrelevant rows pass through, relevant rows fail loudly") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    def ts(s: Long): java.sql.Timestamp = new java.sql.Timestamp(s * 1000L)
    def run(rows: Seq[org.apache.spark.sql.Row], name: String) = {
      val dir = graft.sources.Scratch.path(s"graft_attr_$name")
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir.toString)
      val src = spark.readStream.schema(schema).parquet(dir.toString)
      val q = graft.streaming.StreamingAttribution.attribution(src)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // an attribution-irrelevant NULL-ts row must NOT kill the query (the
    // batch nullOther tolerance, streamed — r13 ADVICE: the old sortBy
    // hit micros(null) before the guard ran)
    run(Seq(
      org.apache.spark.sql.Row(1L, 10L, ts(1000), "view", 0.0),
      org.apache.spark.sql.Row(1L, 11L, ts(2000), "purchase", 5.0),
      org.apache.spark.sql.Row(1L, 12L, null, "page_load", 0.0),
      org.apache.spark.sql.Row(1L, 13L, ts(3000), "view", 0.0)), "attr_null_ok")
    val got = spark.table("attr_null_ok").select($"event_id").as[Long].collect()
    assert(got.toSeq === Seq(11L),
      "the conversion must emit; the NULL-ts page_load row passes through")
    // a RELEVANT NULL-ts row raises the descriptive batch-guard message,
    // not a raw NullPointerException
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(Seq(
        org.apache.spark.sql.Row(2L, 20L, ts(1000), "view", 0.0),
        org.apache.spark.sql.Row(2L, 21L, null, "purchase", 5.0)), "attr_null_bad")
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .take(12).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("NULL/negative ts or event_id"), s"got: $msgs")
  }

  test("native streaming session_window emits exactly the watermark-closed batch sessions") {
    val dir = streamDir()
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = EventsCdc.sessionizeNativeStream(src)
      .writeStream.format("memory").queryName("cdc_native_sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("cdc_native_sessions")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val batch = graft.ops.Events.sessionizeNative(Tables.events(spark, sf))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // append mode emits a session when its close (last event + 30min gap)
    // is <= the watermark; Spark tracks the watermark in FLOORED
    // MILLISECONDS (EventTimeWatermarkExec), so the expectation must use
    // the ms-floored max event time or sub-ms components make the
    // boundary data-dependent
    val maxTsUs = Tables.events(spark, sf)
      .select(max(unix_micros($"ts"))).as[Long].head()
    val wm = (maxTsUs / 1000) * 1000 - 2L * 3600 * 1000000
    val gapUs = 30L * 60 * 1000000
    val expected = batch.filter(r => r._3 + gapUs <= wm)
    assert(streamed.subsetOf(batch), "every emitted session must be a batch session")
    assert(streamed === expected,
      s"streamed ${streamed.size} vs expected ${expected.size} closed sessions")
  }

  test("streaming transitions aggregate to exactly the batch transition matrix") {
    val dir = streamDir()
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = graft.streaming.StreamingTransitions.transitions(src)
      .writeStream.format("memory").queryName("cdc_transitions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitted = spark.table("cdc_transitions")
      .as[(Long, String, String, Long)].collect()
    // in-order micro-batches: per-user pair counts, INCLUDING pairs that
    // straddle batch boundaries, must reproduce the batch lead window
    val streamed = emitted.groupBy(r => (r._2, r._3)).view
      .mapValues(_.length.toLong).toMap
    val batch = graft.ops.Events.transitions(Tables.events(spark, sf))
      .select($"from_type", $"to_type", $"n_trans")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(streamed === batch)
    // each user emits exactly (their event count - 1) transitions
    val perUser = emitted.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val evCounts = Tables.events(spark, sf).groupBy($"user_id").count()
      .as[(Long, Long)].collect().toMap
    evCounts.foreach { case (u, n) =>
      assert(perUser.getOrElse(u, 0L) === n - 1, s"user $u transition count")
    }
  }

  test("streaming transitions drop equal-timestamp events arriving out of order across batches") {
    // batch 1 delivers (ts=T, id=5); batch 2 delivers (ts=T, id=3) — an
    // out-of-order tie split. Emitting last→e would INVERT the batch
    // lead-window pair (which orders id=3 before id=5), so the guard
    // must drop the late event; the only transition is 5→7
    val dir = graft.sources.Scratch.path("graft_tie_stream")
    val schema = Tables.events(spark, sf).schema
    val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T00:00:00Z"))
    val t2 = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T01:00:00Z"))
    def writeBatch(i: Int, rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_tie_tmp")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .select($"event_id", $"ts".cast("timestamp").as("ts"), $"user_id",
          $"event_type", $"value", $"props")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, dir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    writeBatch(1, Seq((5L, t, 1L, "view", 1.0, "{}")))
    writeBatch(2, Seq((3L, t, 1L, "click", 1.0, "{}"),
                      (7L, t2, 1L, "purchase", 1.0, "{}")))
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = graft.streaming.StreamingTransitions.transitions(src)
      .writeStream.format("memory").queryName("tie_transitions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitted = spark.table("tie_transitions")
      .as[(Long, String, String, Long)].collect().toSet
    assert(emitted === Set((1L, "view", "purchase",
      t2.toInstant.getEpochSecond * 1000000L)))
  }

  test("streaming dedup drops source replays within the watermark horizon") {
    // batch 1 = first third of events; batch 2 = the SAME file replayed
    // plus the second third — an at-least-once source re-delivering
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(3).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    val dir = graft.sources.Scratch.path("graft_dedup_stream")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_dedup_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 1 || $"b" === 2) // full replay of batch 1
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    // horizon covers the whole stream => the replay must dedup exactly
    val q = EventsCdc.dedupStream(src, delay = "3650 days")
      .writeStream.format("memory").queryName("cdc_dedup")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("cdc_dedup").select("event_id").as[Long].collect().toSeq
    val expected = ev.filter($"b" === 1 || $"b" === 2)
      .select("event_id").as[Long].collect().toSeq
    assert(got.length === got.distinct.length, "a replayed event was emitted twice")
    assert(got.toSet === expected.toSet)
  }

  test("health reports a liveness row from lastProgress after a run") {
    val dir = streamDir()
    val stateDir = graft.sources.Scratch.dir("graft_cdc_state_h")
    val ckpt = graft.sources.Scratch.dir("graft_cdc_ckpt_h")
    val src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val q = StateSink.run(src, ckpt)(
      EventsCdc.scd1MergeBatch(spark, stateDir, Seq("user_id")))
    q.awaitTermination()
    val row = EventsCdc.health(spark, Seq(q))
      .select("query_id", "is_active", "last_batch_id", "num_input_rows")
      .as[(String, Boolean, Long, Long)].head()
    assert(row._1 === q.id.toString)
    assert(!row._2) // AvailableNow run has terminated
    assert(row._3 >= 0L, "no progress recorded")
    assert(row._4 > 0L, "heartbeat should report processed input rows")
  }

  test("full worker loop end-to-end: file arrivals → dedup → tombstone-aware state") {
    // the whole worker_sync loop in one query: file 1 arrives, then file 2
    // REPLAYS file 1's rows (at-least-once source) plus new rows
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(3).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    val dir = graft.sources.Scratch.path("graft_worker_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_worker_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 1 || $"b" === 2) // full replay + new rows
    // state dir as an explicit file:/ Hadoop URI — proves the version
    // listing goes through the Hadoop FS API (java.io.File can't open it)
    val stateDir = "file:" + graft.sources.Scratch.dir("graft_worker_state")
    val ckpt = graft.sources.Scratch.dir("graft_worker_ckpt")
    val q = StateSink.run(
      EventsCdc.dedupStream(
        EventsCdc.readEventStream(spark, dir.toString, Tables.events(spark, sf),
          maxFilesPerTrigger = 1),
        "3650 days"),
      ckpt)(EventsCdc.scd1MergeBatch(spark, stateDir, Seq("user_id")))
    q.awaitTermination()
    // final state must equal the batch SCD1 over the DISTINCT delivered
    // events — the replay must not perturb it. At least two micro-batches
    // ran, and each later merge saw its prior version through the Hadoop
    // FS listing: the retention sweep (same listing) left exactly the last
    // version and the one it merged into.
    val versions = EventsCdc.stateVersions(spark, stateDir)
    assert(versions.nonEmpty && versions.sorted === Seq(versions.max - 1, versions.max),
      s"expected the last version and its input via the Hadoop FS listing " +
        s"(so later merges saw prior state), got $versions")
    val finalState = spark.read.parquet(s"$stateDir/v=${versions.max}")
    val batchState = StarSchema.scd1Latest(
      ev.filter($"b" === 1 || $"b" === 2).drop("b"),
      Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
    val got = finalState.select($"user_id", $"event_id", $"event_type")
      .as[(Long, Long, String)].collect().toSet
    val expected = batchState.select($"user_id", $"event_id", $"event_type")
      .as[(Long, Long, String)].collect().toSet
    assert(got === expected)
    // tombstones ('error' as delete op) stay IN state, OUT of the live view
    val live = StarSchema.live(finalState, $"event_type" === "error")
      .select($"user_id").as[Long].collect().toSet
    val all = finalState.select($"user_id").as[Long].collect().toSet
    assert(live.subsetOf(all) && live.size < all.size,
      "expected at least one tombstoned user held out of the live view")
  }

  test("stream-stream interval join matches the batch range join on in-order micro-batches") {
    val dir = streamDir()
    def src = spark.readStream
      .schema(Tables.events(spark, sf).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    // horizon covers the whole stream: no buffered row is evicted before
    // its last possible match, so streaming must equal batch exactly
    val q = EventsCdc.intervalJoin(src, src,
        window = "30 minutes", delay = "3650 days")
      .writeStream.format("memory").queryName("cdc_interval")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("cdc_interval").select("a_event_id", "b_event_id")
      .as[(Long, Long)].collect().toSet
    val ev = Tables.events(spark, sf)
    val a = ev.select($"user_id".as("a_key"), $"ts".as("a_ts"),
      $"event_id".as("a_event_id"))
    val b = ev.select($"user_id".as("b_key"), $"ts".as("b_ts"),
      $"event_id".as("b_event_id"))
    val expected = a.join(b, $"a_key" === $"b_key" && $"b_ts" > $"a_ts" &&
        $"b_ts" <= $"a_ts" + expr("INTERVAL 30 minutes"))
      .select("a_event_id", "b_event_id").as[(Long, Long)].collect().toSet
    assert(got.nonEmpty, "expected some interval matches")
    assert(got === expected)
  }

  test("streaming bloom maintenance: replay-idempotent bit union, no false negatives") {
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    val dir = graft.sources.Scratch.path("graft_bl_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_bl_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 2)
    writeFile("3.parquet", $"b" === 1) // an at-least-once source replaying batch 1
    val sketchDir = graft.sources.Scratch.dir("graft_bl_out")
    val ckpt = graft.sources.Scratch.dir("graft_bl_ckpt")
    val q = StateSink.run(
      EventsCdc.readEventStream(spark, dir.toString, Tables.events(spark, sf),
        maxFilesPerTrigger = 1),
      ckpt)((b, batchId) =>
        StateSink.appendIdempotent(
          graft.ops.Sketches.bloomSketch(b, $"event_type", $"user_id"),
          batchId, sketchDir))
    q.awaitTermination()
    val sketches = spark.read.parquet(sketchDir)
    assert(sketches.select($"batch_id").distinct().count() === 3)
    // replay idempotence: the replayed batch sets EXACTLY the original's
    // bits, so the merged filter is unchanged by redelivery
    val bits0 = sketches.filter($"batch_id" === 0)
      .select($"bucket", $"bit").as[(String, Int)].collect().toSet
    val bits2 = sketches.filter($"batch_id" === 2)
      .select($"bucket", $"bit").as[(String, Int)].collect().toSet
    assert(bits2 === bits0)
    // no false negatives: every real user probes maybe_present from the
    // merged filter alone
    val users = Tables.events(spark, sf).select($"user_id").distinct()
    val probedTrue = graft.ops.Sketches.bloomProbe(sketches, users, "user_id")
      .filter($"maybe_present").count()
    assert(probedTrue === users.count())
    // synthetic absent ids overwhelmingly reject (fp rate at this fill is
    // ~(450/65536)^3; allow a stray deterministic collision or two)
    val absent = (1000000L to 1000049L).toDF("user_id")
    val fp = graft.ops.Sketches.bloomProbe(sketches, absent, "user_id")
      .filter($"maybe_present").count()
    assert(fp <= 2, s"$fp of 50 absent ids probed present")
  }

  test("streaming sketch table: per-batch appends merge to the true distinct count") {
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    val dir = graft.sources.Scratch.path("graft_sk_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_sk_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 2)
    val sketchDir = graft.sources.Scratch.dir("graft_sk_out")
    val ckpt = graft.sources.Scratch.dir("graft_sk_ckpt")
    val q = StateSink.run(
      EventsCdc.readEventStream(spark, dir.toString, Tables.events(spark, sf),
        maxFilesPerTrigger = 1),
      ckpt)((b, batchId) =>
        StateSink.appendIdempotent(
          graft.ops.Sketches.distinctSketch(b, $"event_type", $"user_id"),
          batchId, sketchDir))
    q.awaitTermination()
    val sketches = spark.read.parquet(sketchDir)
    // one sketch row per (batch, bucket): blind appends, tagged per batch
    assert(sketches.select($"batch_id").distinct().count() === 2)
    // merged estimate over ALL batch sketches lands within the >6-sigma
    // 5% bound of the exact distinct over the whole stream — answered
    // from the sketch table alone, without rescanning the events
    val est = graft.ops.Sketches.mergedEstimate(sketches)
      .select($"distinct_estimate").as[Long].head()
    val exact = Tables.events(spark, sf)
      .select(countDistinct($"user_id")).as[Long].head()
    assert(math.abs(est - exact) <= exact * 0.05,
      s"merged estimate $est vs exact $exact")
    // and a bucket-subset question uses only that subset's sketch rows
    val oneType = Tables.events(spark, sf).select($"event_type")
      .distinct().as[String].head()
    val subEst = graft.ops.Sketches.mergedEstimate(
        sketches.filter($"bucket" === oneType))
      .select($"distinct_estimate").as[Long].head()
    val subExact = Tables.events(spark, sf)
      .filter($"event_type" === oneType)
      .select(countDistinct($"user_id")).as[Long].head()
    assert(math.abs(subEst - subExact) <= math.max(1L, (subExact * 0.05).toLong),
      s"bucket estimate $subEst vs exact $subExact")
  }

  test("streaming heavy-hitter sketches: per-batch appends merge within the MG bound") {
    val k = 32
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    val dir = graft.sources.Scratch.path("graft_hh_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_hh_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 2)
    val sketchDir = graft.sources.Scratch.dir("graft_hh_out")
    val ckpt = graft.sources.Scratch.dir("graft_hh_ckpt")
    // items = user ids as strings (the heavy-hitter question: most active
    // users per event type, answered from KB-sized rows)
    val q = StateSink.run(
      EventsCdc.readEventStream(spark, dir.toString, Tables.events(spark, sf),
          maxFilesPerTrigger = 1)
        .withColumn("item", $"user_id".cast("string")),
      ckpt)((b, batchId) =>
        StateSink.appendIdempotent(
          graft.ops.Sketches.heavyHitterSketch(
            b, $"event_type", lit(batchId), $"item", k),
          batchId, sketchDir))
    q.awaitTermination()
    val sketches = spark.read.parquet(sketchDir)
    // blind appends: one row per (bucket, batch shard)
    assert(sketches.select($"shard").distinct().count() === 2)
    assert(sketches.count() ===
      sketches.select($"bucket", $"shard").distinct().count())
    val merged = graft.ops.Sketches.heavyHittersMerged(sketches, k)
      .as[(String, Long, String, Long)].collect()
    val exact = Tables.events(spark, sf)
      .groupBy($"event_type", $"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("f"))
      .as[(String, String, Long)].collect()
    val nBucket = exact.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    // recorded weights equal the true stream's (no replay here)
    merged.groupBy(_._1).foreach { case (b, rows) =>
      assert(rows.head._2 === nBucket(b), s"bucket $b weight mismatch")
    }
    val est = merged.map(r => (r._1, r._3) -> r._4).toMap
    exact.foreach { case (b, item, f) =>
      val n = nBucket(b)
      est.get((b, item)).foreach { c =>
        assert(c <= f, s"($b,$item) overestimated: $c > $f")
      }
      if (f * (k + 1) > n) {
        val c = est.getOrElse((b, item), 0L)
        assert(c > 0, s"heavy hitter ($b,$item) f=$f n=$n missing from merge")
        assert(c * (k + 1) >= f * (k + 1) - n, s"($b,$item) below the MG bound")
      }
    }
  }

  test("streaming count-min maintenance: cell-addition merge, one-sided bound survives replay") {
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    val dir = graft.sources.Scratch.path("graft_cm_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_cm_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 2)
    writeFile("3.parquet", $"b" === 1) // an at-least-once source replaying batch 1
    val sketchDir = graft.sources.Scratch.dir("graft_cm_out")
    val ckpt = graft.sources.Scratch.dir("graft_cm_ckpt")
    val q = StateSink.run(
      EventsCdc.readEventStream(spark, dir.toString, Tables.events(spark, sf),
          maxFilesPerTrigger = 1)
        .withColumn("item", $"user_id".cast("string")),
      ckpt)((b, batchId) =>
        StateSink.appendIdempotent(
          graft.ops.Sketches.countMinSketch(
            b, $"event_type", $"item", depth = 3, width = 256),
          batchId, sketchDir))
    q.awaitTermination()
    val sketches = spark.read.parquet(sketchDir)
    assert(sketches.select($"batch_id").distinct().count() === 3)
    // a replayed batch appends EXACTLY its original cells again (blind
    // deterministic appends — no state, no read-modify-write)
    val cells0 = sketches.filter($"batch_id" === 0)
      .select($"bucket", $"depth", $"slot", $"cnt")
      .as[(String, Int, Int, Long)].collect().toSet
    val cells2 = sketches.filter($"batch_id" === 2)
      .select($"bucket", $"depth", $"slot", $"cnt")
      .as[(String, Int, Int, Long)].collect().toSet
    assert(cells2 === cells0)
    val exactEv = ev.groupBy($"user_id".cast("string").as("item"))
      .agg(count(lit(1)).as("f"),
           sum(when($"b" === 1, 1L).otherwise(0L)).as("f1"))
      .as[(String, Long, Long)].collect()
    val items = exactEv.map(_._1).toSeq.toDF("item")
    // merged over the TRUE batches only (0,1): est >= exact for every item
    // — the deterministic CM one-sided guarantee, answered from cells alone
    val estTrue = graft.ops.Sketches.countMinEstimates(
        sketches.filter($"batch_id" < 2), items, "item", depth = 3, width = 256)
      .as[(String, Long)].collect().toMap
    exactEv.foreach { case (item, f, _) =>
      assert(estTrue(item) >= f, s"$item: est ${estTrue(item)} < exact $f")
    }
    // replay caveat pinned: merging the redelivered batch ADDS its counts —
    // estimates now bound the replayed stream (>= f + batch-1 frequency),
    // still never below; HLL/Bloom idempotence does NOT hold here
    val estAll = graft.ops.Sketches.countMinEstimates(
        sketches, items, "item", depth = 3, width = 256)
      .as[(String, Long)].collect().toMap
    exactEv.foreach { case (item, f, f1) =>
      assert(estAll(item) >= f + f1,
        s"$item: replayed est ${estAll(item)} < ${f + f1}")
      assert(estAll(item) >= estTrue(item))
    }
  }

  test("streaming histogram maintenance: bin-addition merge equals batch sketch, rank bounds hold") {
    // the fifth streaming sketch twin — same blind-append contract as the
    // CM test above, with the read path answering RANK queries: merged
    // bins must equal the batch histogramSketch of the same rows exactly
    // (deterministic fixed-bin design), and each requested quantile's
    // [est_lo, est_hi] must bracket the true rank-r value
    val nbins = 64
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
      .withColumn("v", ($"value".cast("decimal(38,2)") * 100).cast("long"))
    val r = ev.agg(min($"v"), max($"v")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val dir = graft.sources.Scratch.path("graft_hg_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_hg_tmp")
      ev.filter(filter).drop("b", "v").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 2)
    writeFile("3.parquet", $"b" === 1) // at-least-once replay of batch 1
    val sketchDir = graft.sources.Scratch.dir("graft_hg_out")
    val ckpt = graft.sources.Scratch.dir("graft_hg_ckpt")
    val q = StateSink.run(
      EventsCdc.readEventStream(spark, dir.toString, Tables.events(spark, sf),
          maxFilesPerTrigger = 1)
        .withColumn("v", ($"value".cast("decimal(38,2)") * 100).cast("long")),
      ckpt)((b, batchId) =>
        StateSink.appendIdempotent(
          graft.ops.Sketches.histogramSketch(b, $"event_type", $"v", lo, hi, nbins),
          batchId, sketchDir))
    q.awaitTermination()
    val sketches = spark.read.parquet(sketchDir)
    assert(sketches.select($"batch_id").distinct().count() === 3)
    // a replayed batch appends EXACTLY its original bins again
    def cells(f: org.apache.spark.sql.Column) =
      sketches.filter(f).select($"bucket", $"bin", $"cnt")
        .as[(String, Long, Long)].collect().toSet
    assert(cells($"batch_id" === 2) === cells($"batch_id" === 0))
    // merged true batches == the batch sketch of the same rows, bin for bin
    val mergedTrue = sketches.filter($"batch_id" < 2)
      .groupBy($"bucket", $"bin").agg(sum($"cnt").as("cnt"))
      .as[(String, Long, Long)].collect().toSet
    val batchSketch = graft.ops.Sketches
      .histogramSketch(ev, $"event_type", $"v", lo, hi, nbins)
      .as[(String, Long, Long)].collect().toSet
    assert(mergedTrue === batchSketch)
    // rank-bound contract off the merged stream sketch: the true rank-r
    // value (audit-only exact sort) lands inside [est_lo, est_hi]
    val est = graft.ops.Sketches.histogramQuantiles(
      sketches.filter($"batch_id" < 2), $"bucket",
      Seq((1, 4), (1, 2), (9, 10)), lo, hi, nbins)
    val ranked = ev.select($"event_type".as("s"), $"v")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"s").orderBy($"v")))
    val checked = est.join(ranked,
        est("subset") === ranked("s") && est("q_rank") === ranked("rn"))
      .select($"subset", $"p_num", $"p_den",
        ($"v" >= $"est_lo" && $"v" <= $"est_hi").as("ok"))
      .as[(String, Int, Int, Boolean)].collect()
    assert(checked.length === ev.select($"event_type").distinct().count() * 3)
    checked.foreach { case (s, n, d, ok) =>
      assert(ok, s"quantile $n/$d of $s fell outside its sketch bin bounds")
    }
  }

  test("streaming SCD2 merge over in-order micro-batches equals batch scd2History") {
    def df(rows: (Long, Long, Long, String)*) =
      rows.toDF("k", "ts_us", "event_id", "payload")
    // three in-order batches: inserts, updates (incl. a same-ts tiebreak
    // pair), a tombstone, and a brand-new key arriving late
    val b1 = df((1L, 100L, 1L, "a1"), (2L, 100L, 2L, "b1"))
    val b2 = df((1L, 200L, 3L, "a2"), (1L, 200L, 4L, "a3"), (2L, 250L, 5L, "b2"))
    val b3 = df((1L, 300L, 6L, "DELETE"), (3L, 300L, 7L, "c1"))
    val keys = Seq("k")
    val stateDir = graft.sources.Scratch.dir("graft_scd2merge")
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      EventsCdc.scd2MergeBatchSplit(spark, stateDir, keys)(b, i.toLong)
    }
    val s3 = EventsCdc.scd2SplitState(spark, stateDir)
    val batchEquiv = graft.olap.StarSchema.scd2History(
      b1.unionByName(b2).unionByName(b3), keys, $"ts_us",
      Seq($"ts_us", $"event_id"))
    assert(s3.collect().map(_.toString).sorted.toSeq ===
      batchEquiv.collect().map(_.toString).sorted.toSeq)
    // tombstone semantics: key 1's current version IS the tombstone (the
    // interval ended, nothing resurrects it in the live view) while every
    // pre-delete as-of lookup still resolves from the closed history
    val k1 = s3.filter($"k" === 1L)
    assert(k1.filter($"is_current").select($"payload").as[String].head() === "DELETE")
    val liveKeys = graft.olap.StarSchema.live(
        s3.filter($"is_current"), $"payload" === "DELETE")
      .select($"k").as[Long].collect().toSet
    assert(liveKeys === Set(2L, 3L))
    val asOf250 = k1.filter($"valid_from_us" <= 250L &&
        ($"valid_to_us".isNull || $"valid_to_us" > 250L))
      .select($"payload").as[String].head()
    assert(asOf250 === "a3")
    // version ordinals continue across batches: key 1 saw 4 changes
    assert(k1.select(max($"version")).as[Int].head() === 4)
  }

  test("split SCD2 sink: closed appends + open rewrite, per-batch writes never history-sized") {
    // the 100 TB sink posture for SCD2 state: closed interval rows land in
    // an append-only slice written once, only the open row per live key is
    // rewritten per batch — and the assembled state still equals
    // scd2History of the concatenated change log exactly
    def df(rows: (Long, Long, Long, String)*) =
      rows.toDF("k", "ts_us", "event_id", "payload")
    // 6 batches hammering the SAME 3 keys: history grows by 3 rows a batch
    // while the open slice stays 3 — a full-state rewrite would be caught
    val batches = (1 to 6).map { b =>
      df((1 to 3).map(k =>
        (k.toLong, b * 100L, (b * 10 + k).toLong, s"p$b-$k")): _*)
    }
    val stateDir = graft.sources.Scratch.dir("graft_scd2split")
    val keys = Seq("k")
    batches.zipWithIndex.foreach { case (b, i) =>
      EventsCdc.scd2MergeBatchSplit(spark, stateDir, keys)(b, i.toLong)
    }
    def rowsAt(p: String): Long = spark.read.parquet(p).count()
    // write-cost pin: batch 5's closed append holds ONLY the 3 rows that
    // closed in batch 5, and its open snapshot ONLY the 3 live keys —
    // while the full history is already 18 rows. The sink never wrote a
    // history-sized object after batch 0.
    assert(rowsAt(s"$stateDir/closed/batch=5") === 3)
    assert(rowsAt(s"$stateDir/open/v=5") === 3)
    val assembled = EventsCdc.scd2SplitState(spark, stateDir)
    assert(assembled.count() === 18)
    (1 to 5).foreach { b =>
      assert(rowsAt(s"$stateDir/closed/batch=$b") === 3,
        s"closed slice of batch $b must hold exactly that batch's closures")
    }
    // equivalence: assembled split state == batch scd2History of the log
    val batchEquiv = graft.olap.StarSchema.scd2History(
      batches.reduce(_ unionByName _), keys, $"ts_us",
      Seq($"ts_us", $"event_id"))
    assert(assembled.collect().map(_.toString).sorted.toSeq ===
      batchEquiv.collect().map(_.toString).sorted.toSeq)
    // replay idempotence: re-running the LAST batch (the only one the
    // streaming engine ever re-delivers — the retention rule keeps exactly
    // its input version v=4 around) rewrites only batch 5's own closed dir
    // and open snapshot with identical content
    val before = assembled.collect().map(_.toString).sorted.toSeq
    EventsCdc.scd2MergeBatchSplit(spark, stateDir, keys)(batches(5), 5L)
    assert(rowsAt(s"$stateDir/closed/batch=5") === 3)
    val after = EventsCdc.scd2SplitState(spark, stateDir)
    assert(after.collect().map(_.toString).sorted.toSeq === before)
  }

  test("versioned CDC sinks keep v=N and the version before it; a replay of batch N rebuilds the same state") {
    // one retention rule for every v=N sink: keep the version just written
    // and the newest one before it. A worker that never stops then holds
    // two copies of its state, not one per micro-batch, and a replay of the
    // last batch (the only one the streaming engine re-delivers) still
    // finds its input. Batch b touches only key b and the hot key 9, so a
    // replay rebuilt from the batch alone would lose keys 0..b-1. Batch 6
    // holds no rows (a watermark's no-data batch): it writes no v=6, and
    // the state, its replay, and a later replay of batch 5 all stay put.
    val batches = (0 to 5).map { b =>
      Seq((b.toLong, b * 100L, b * 10L), (9L, b * 100L + 50, b * 10L + 1))
        .toDF("k", "ts_us", "event_id")
        .withColumn("ts", expr("timestamp_micros(ts_us)"))
        .withColumn("payload", concat(lit("p"), $"event_id"))
    }
    val noData = batches(0).limit(0)
    val log = batches.reduce(_ unionByName _)
    val keys = Seq("k")
    def latest(dir: String) =
      spark.read.parquet(s"$dir/v=${EventsCdc.stateVersions(spark, dir).max}")
    val scd1 = StarSchema.scd1Latest(log, keys, Seq($"ts".desc, $"event_id".desc))
    val scd2 = StarSchema.scd2History(log, keys, $"ts_us", Seq($"ts_us", $"event_id"))
    val sinks = Seq(
      ("scd1MergeBatch",
        (d: String, b: org.apache.spark.sql.DataFrame, n: Long) =>
          EventsCdc.scd1MergeBatch(spark, d, keys)(b, n),
        (d: String) => d, latest _, scd1),
      ("scd2MergeBatchSplit",
        (d: String, b: org.apache.spark.sql.DataFrame, n: Long) =>
          EventsCdc.scd2MergeBatchSplit(spark, d, keys)(b, n),
        (d: String) => s"$d/open", EventsCdc.scd2SplitState(spark, _: String), scd2))
    sinks.foreach { case (name, write, versioned, state, oracle) =>
      val dir = graft.sources.Scratch.dir(s"graft_retention_$name")
      def rows(): Seq[String] = state(dir).select(oracle.columns.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
      def kept(): Seq[Long] = EventsCdc.stateVersions(spark, versioned(dir)).sorted
      batches.zipWithIndex.foreach { case (b, i) => write(dir, b, i.toLong) }
      val before = rows()
      assert(before === oracle.collect().map(_.toString).sorted.toSeq,
        s"$name: the state must equal the batch operator over the whole log")
      write(dir, batches(5), 5L)
      assert(rows() === before, s"$name: a replay of batch 5 must rebuild the same state")
      assert(kept() === Seq(4L, 5L),
        s"$name must keep exactly v=5 and the v=4 it merged into")
      write(dir, noData, 6L)
      assert(kept() === Seq(4L, 5L), s"$name: an empty batch must write no v=6")
      assert(rows() === before, s"$name: an empty batch must leave the state as it was")
      write(dir, noData, 6L)
      write(dir, batches(5), 5L)
      assert(kept() === Seq(4L, 5L) && rows() === before,
        s"$name: replays around an empty batch must rebuild the same state")
    }
  }

  test("runScd2Split: the streaming pipeline maintains split closed/open state end to end") {
    // the split sink driven through the REAL streaming wiring (file source
    // → foreachBatch), not direct merge calls: closed slices append once
    // per batch, the open snapshot rewrites, and the assembled state equals
    // the batch scd2History of everything that arrived
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        $"event_type")
    val third = ntile(3).over(org.apache.spark.sql.expressions.Window
      .orderBy($"ts_us", $"event_id"))
    val parts = ev.withColumn("b", third)
    val dir = graft.sources.Scratch.path("graft_scd2sp_src")
    (1 to 3).foreach { i =>
      val tmp = graft.sources.Scratch.dir("graft_scd2sp_tmp")
      parts.filter($"b" === i).drop("b")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val stateDir = graft.sources.Scratch.dir("graft_scd2sp_state")
    val ckpt = graft.sources.Scratch.dir("graft_scd2sp_ckpt")
    val q = StateSink.run(
      EventsCdc.readEventStream(spark, dir.toString, parts.drop("b"),
        maxFilesPerTrigger = 1),
      ckpt)(EventsCdc.scd2MergeBatchSplit(spark, stateDir, Seq("user_id")))
    q.awaitTermination()
    // one closed append per batch; the retention rule keeps two open
    // versions (the last and the one it merged into), never the batch count
    (0 to 2).foreach { b =>
      assert(new java.io.File(s"$stateDir/closed/batch=$b").exists(),
        s"closed slice of batch $b missing")
    }
    assert(EventsCdc.stateVersions(spark, s"$stateDir/open").size === 2)
    val assembled = EventsCdc.scd2SplitState(spark, stateDir)
    val expected = graft.olap.StarSchema.scd2History(
      ev, Seq("user_id"), $"ts_us", Seq($"ts_us", $"event_id"))
    assert(assembled.collect().map(_.toString).sorted.toSeq ===
      expected.collect().map(_.toString).sorted.toSeq)
    // the sink's defining property: the closed slice holds every
    // non-current row, the open snapshot exactly one current row per key
    val open = spark.read.parquet(
      s"$stateDir/open/v=${EventsCdc.stateVersions(spark, s"$stateDir/open").max}")
    assert(open.filter(!$"is_current").count() === 0)
    assert(open.count() === ev.select($"user_id").distinct().count())
  }

  test("runScd2: the streaming pipeline maintains versioned SCD2 state end to end") {
    // the SCD2 streaming pipeline (scd2MergeBatchSplit, the one SCD2 sink) stopped
    // between arrivals and restarted from its checkpoint: the restarted
    // query merges the new batch into the open version the first run left,
    // so the versioned state stays the batch scd2History of the whole log
    val ev = Tables.events(spark, sf)
      .select($"user_id", unix_micros($"ts").as("ts_us"), $"event_id",
        $"event_type")
    val third = ntile(3).over(org.apache.spark.sql.expressions.Window
      .orderBy($"ts_us", $"event_id"))
    val parts = ev.withColumn("b", third)
    val dir = graft.sources.Scratch.path("graft_scd2_src")
    def arrive(i: Int): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_scd2_tmp")
      parts.filter($"b" === i).drop("b")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val stateDir = graft.sources.Scratch.dir("graft_scd2_state")
    val ckpt = graft.sources.Scratch.dir("graft_scd2_ckpt")
    def run(): Unit = StateSink.run(
      EventsCdc.readEventStream(spark, dir.toString, parts.drop("b"),
        maxFilesPerTrigger = 1),
      ckpt)(EventsCdc.scd2MergeBatchSplit(spark, stateDir, Seq("user_id")))
      .awaitTermination()
    def history(upTo: Int) = graft.olap.StarSchema.scd2History(
      parts.filter($"b" <= upTo).drop("b"), Seq("user_id"), $"ts_us",
      Seq($"ts_us", $"event_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    arrive(1); arrive(2)
    run()
    assert(EventsCdc.stateVersions(spark, s"$stateDir/open").sorted === Seq(0L, 1L))
    assert(rows(EventsCdc.scd2SplitState(spark, stateDir)) === rows(history(2)))
    arrive(3)
    run()
    // the restart ran only the new file's batch; the retention rule keeps
    // its open version and the one it merged into
    assert(EventsCdc.stateVersions(spark, s"$stateDir/open").sorted === Seq(1L, 2L))
    val finalState = EventsCdc.scd2SplitState(spark, stateDir)
    assert(rows(finalState) === rows(history(3)))
    // SCD2 invariants on the maintained state: exactly one current row per
    // key, and per-key intervals chain with no holes
    val perKey = finalState.groupBy($"user_id")
      .agg(sum(when($"is_current", 1).otherwise(0)).as("n_open"))
    assert(perKey.filter($"n_open" =!= 1).count() === 0)
    val holes = finalState.alias("a").join(finalState.alias("b"),
        $"a.user_id" === $"b.user_id" &&
        col("a.version") + 1 === col("b.version") &&
        $"a.valid_to_us" =!= $"b.valid_from_us")
    assert(holes.count() === 0)
  }

  test("SCD1 merge keeps tombstones so late-arriving older rows cannot resurrect") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    val t2 = java.sql.Timestamp.valueOf("2024-01-01 02:00:00")
    def df(rows: (Long, Long, java.sql.Timestamp, String)*) =
      rows.toDF("user_id", "event_id", "ts", "op")
    // batch 1: insert user 1 and 2; batch 2: DELETE user 1;
    // batch 3 replays an OLD update for user 1 (late arrival)
    val b1 = df((1L, 10L, t0, "upsert"), (2L, 11L, t0, "upsert"))
    val b2 = df((1L, 20L, t2, "delete"))
    val b3 = df((1L, 15L, t1, "upsert"))
    val keys = Seq("user_id")
    val s1 = EventsCdc.mergeStep(None, b1, keys)
    val s2 = EventsCdc.mergeStep(Some(s1), b2, keys)
    val s3 = EventsCdc.mergeStep(Some(s2), b3, keys)
    // tombstone survives the late replay...
    assert(s3.filter($"user_id" === 1L).select($"op").as[String].head() === "delete")
    // ...so the live view never resurrects user 1
    val liveUsers = StarSchema.live(s3, $"op" === "delete")
      .select($"user_id").as[Long].collect().toSet
    assert(liveUsers === Set(2L))
  }

  test("SCD1 sink: NULL-ts rows merge as scd1Latest orders them over the whole log") {
    // scd1Latest's order (ts desc, event_id desc) puts a NULL ts last: a
    // NULL-ts row loses to any timed row of its key, and a key seen only
    // with NULL ts keeps its newest event_id's row, every column intact
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    def df(rows: (Long, Long, Option[java.sql.Timestamp], String)*) =
      rows.toDF("user_id", "event_id", "ts", "payload")
    // batch 1 carries a NULL-ts row for key 1, which the state holds with
    // a timed row, and for key 3, which the state lacks; key 2's NULL-ts
    // state row meets a timed batch row
    val b0 = df((1L, 10L, Some(t0), "a"), (2L, 11L, None, "b0"))
    val b1 = df((1L, 20L, None, "a-untimed"), (3L, 21L, None, "c"),
      (2L, 22L, Some(t1), "b1"))
    val keys = Seq("user_id")
    val dir = graft.sources.Scratch.dir("graft_scd1_null_ts")
    EventsCdc.scd1MergeBatch(spark, dir, keys)(b0, 0L)
    EventsCdc.scd1MergeBatch(spark, dir, keys)(b1, 1L)
    val state = spark.read.parquet(s"$dir/v=${EventsCdc.stateVersions(spark, dir).max}")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.select($"user_id", $"event_id", $"ts", $"payload")
        .collect().map(_.toString).sorted.toSeq
    assert(rows(state) === rows(StarSchema.scd1Latest(b0.unionByName(b1), keys,
      Seq($"ts".desc, $"event_id".desc))))
    assert(state.orderBy($"user_id").select($"payload").as[String].collect().toSeq
      === Seq("a", "b1", "c"))
  }

  test("JDBC worker: file arrivals → dedup → tombstone-aware upsert into live DuckDB equals batch SCD1") {
    // the reference worker's literal deployment shape, end to end: the
    // second arrival file fully REPLAYS the first (at-least-once source)
    // plus new rows including tombstones; the live table must equal the
    // batch SCD1 live view over the distinct delivered events
    val ev = Tables.events(spark, sf).withColumn("b",
      ntile(3).over(org.apache.spark.sql.expressions.Window
        .orderBy($"ts", $"event_id")))
    val dir = graft.sources.Scratch.path("graft_jworker_src")
    def writeFile(name: String, filter: org.apache.spark.sql.Column): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_jworker_tmp")
      ev.filter(filter).drop("b").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(name))
      Thread.sleep(1000)
    }
    writeFile("1.parquet", $"b" === 1)
    writeFile("2.parquet", $"b" === 1 || $"b" === 2) // full replay + new rows
    val db = graft.sources.Scratch.path("graft-duckdb-worker")
      .resolve("olap.db").toString
    val conn = graft.sources.Jdbc.ConnInfo(
      s"jdbc:duckdb:$db", "", "", "org.duckdb.DuckDBDriver")
    Class.forName(conn.driver)
    val ddl = java.sql.DriverManager.getConnection(conn.url)
    try {
      ddl.createStatement().execute(
        "CREATE TABLE user_state (event_id BIGINT, ts TIMESTAMP, " +
          "user_id BIGINT PRIMARY KEY, event_type VARCHAR, value DOUBLE, " +
          "props VARCHAR)")
      val ckpt = graft.sources.Scratch.dir("graft_jworker_ckpt")
      val q = StateSink.run(
        EventsCdc.dedupStream(
          EventsCdc.readEventStream(spark, dir.toString,
            Tables.events(spark, sf), maxFilesPerTrigger = 1),
          "3650 days"),
        ckpt)(EventsCdc.scd1JdbcBatch(conn, "user_state", Seq("user_id"),
          deleteWhen = $"event_type" === "error"))
      q.awaitTermination()
      // expected: batch SCD1 over the distinct delivered events, with
      // tombstoned users DELETED (the JDBC worker's delete semantics)
      val batchState = StarSchema.scd1Latest(
        ev.filter($"b" === 1 || $"b" === 2).drop("b"),
        Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      val expected = StarSchema.live(batchState, $"event_type" === "error")
        .select($"user_id", $"event_id", $"event_type")
        .as[(Long, Long, String)].collect().toSet
      def readState(): Set[(Long, Long, String)] =
        graft.sources.Jdbc.readTable(spark, conn, "user_state")
          .select($"user_id".cast("long"), $"event_id".cast("long"),
            $"event_type")
          .as[(Long, Long, String)].collect().toSet
      assert(expected.nonEmpty && readState() === expected)
      // at least one tombstone actually deleted a previously-upserted user
      val tombstoned = batchState.filter($"event_type" === "error")
        .select($"user_id").as[Long].collect().toSet
      assert(tombstoned.nonEmpty &&
        tombstoned.forall(u => !expected.exists(_._1 == u)))
      // replay idempotence at the BATCH level: re-applying batch 1's whole
      // file (same rows, same reduction) leaves the table bit-identical
      val before = readState()
      EventsCdc.scd1JdbcBatch(conn, "user_state", Seq("user_id"),
        deleteWhen = $"event_type" === "error")(
        ev.filter($"b" === 1 || $"b" === 2).drop("b"), 99L)
      assert(readState() === before)
      // newest-wins guard: a LATE batch carrying an older version of a
      // live user must not clobber the newer table state
      val liveUser = expected.head._1
      val older = Seq((0L, java.sql.Timestamp.valueOf("1990-01-01 00:00:00"),
          liveUser, "stale", 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      EventsCdc.scd1JdbcBatch(conn, "user_state", Seq("user_id"),
        deleteWhen = $"event_type" === "error")(older, 100L)
      assert(readState() === before,
        "an out-of-order older row must lose to the ts/tie guard")
      // NULL-safe tombstone split: a row where deleteWhen evaluates to
      // NULL (NULL event_type under === "error") is NOT a tombstone — it
      // must land in the upsert branch, not vanish from both
      val nullType = Seq((900L,
          java.sql.Timestamp.valueOf("2030-01-01 00:00:00"),
          999999L, Option.empty[String], 0.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      EventsCdc.scd1JdbcBatch(conn, "user_state", Seq("user_id"),
        deleteWhen = $"event_type" === "error")(nullType, 101L)
      assert(readState().exists(_._1 == 999999L),
        "a NULL-predicate row must upsert, not be dropped from both branches")
    } finally ddl.close()
  }

  test("SCD1 merges: a widened batch evolves state without loss; a narrowed batch refuses by name") {
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    val keys = Seq("user_id")
    val b1 = Seq((1L, 10L, t0, "a"), (2L, 11L, t0, "b"))
      .toDF("user_id", "event_id", "ts", "payload")
    val s1 = EventsCdc.mergeStep(None, b1, keys)
    // a column added upstream: the widened batch merges; the untouched
    // key's standing row carries NULL for the new column — no data loss
    val b2 = Seq((1L, 20L, t1, "a2", "eu-west"))
      .toDF("user_id", "event_id", "ts", "payload", "region")
    val s2 = EventsCdc.mergeStep(Some(s1), b2, keys)
    assert(s2.columns.contains("region"))
    val rows = s2.orderBy($"user_id")
      .select($"user_id", $"payload", $"region")
      .as[(Long, String, Option[String])].collect().toSeq
    assert(rows === Seq((1L, "a2", Some("eu-west")), (2L, "b", None)),
      "key 2's standing row must survive with NULL in the added column")
    // a batch MISSING a standing column is upstream breakage: the merge
    // refuses loudly, naming the dropped column, before any write
    val narrowed = Seq((3L, 30L, t1)).toDF("user_id", "event_id", "ts")
    val e1 = intercept[IllegalArgumentException] {
      EventsCdc.mergeStep(Some(s1), narrowed, keys)
    }
    assert(e1.getMessage.contains("payload"))
    // a retyped column refuses too, naming both types
    val retyped = Seq((3L, 30L, t1, 7.5))
      .toDF("user_id", "event_id", "ts", "payload")
    val e3 = intercept[IllegalArgumentException] {
      EventsCdc.mergeStep(Some(s1), retyped, keys)
    }
    assert(e3.getMessage.contains("payload") && e3.getMessage.contains("string")
      && e3.getMessage.contains("double"))
  }

  test("SCD2 split sink: a widened batch evolves history in place; a narrowed batch refuses") {
    def df(rows: (Long, Long, Long, String)*) =
      rows.toDF("k", "ts_us", "event_id", "payload")
    val stateDir = graft.sources.Scratch.dir("graft_scd2evo")
    val keys = Seq("k")
    EventsCdc.scd2MergeBatchSplit(spark, stateDir, keys)(
      df((1L, 100L, 1L, "a1"), (2L, 100L, 2L, "b1")), 0L)
    // batch 1 arrives WIDENED (a source column added): the merge runs,
    // closed rows that predate the column read NULL, new versions carry it
    val widened = Seq((1L, 200L, 3L, "a2", "mobile"))
      .toDF("k", "ts_us", "event_id", "payload", "channel")
    EventsCdc.scd2MergeBatchSplit(spark, stateDir, keys)(widened, 1L)
    val state = EventsCdc.scd2SplitState(spark, stateDir)
    assert(state.columns.contains("channel"))
    assert(state.count() === 3)
    val k1 = state.filter($"k" === 1L).orderBy($"version")
      .select($"payload", $"channel")
      .as[(String, Option[String])].collect().toSeq
    assert(k1 === Seq(("a1", None), ("a2", Some("mobile"))),
      "pre-evolution history reads NULL; the new version carries the value")
    assert(state.filter($"k" === 2L && $"is_current").count() === 1,
      "untouched key's open row survives the widened merge")
    // a narrowed batch refuses loudly with the standing state intact
    val before = state.collect().map(_.toString).sorted.toSeq
    val err = intercept[IllegalArgumentException] {
      EventsCdc.scd2MergeBatchSplit(spark, stateDir, keys)(
        Seq((1L, 300L, 4L)).toDF("k", "ts_us", "event_id"), 2L)
    }
    assert(err.getMessage.contains("payload"))
    assert(EventsCdc.scd2SplitState(spark, stateDir)
      .collect().map(_.toString).sorted.toSeq === before,
      "refused batch must leave the split state untouched")
  }

  test("NOTIFY shim: polled relay notifications flow arrival files into runWorker") {
    // the reference worker's actual transport (worker_sync.py:42-108),
    // end to end: a pg_notify-style relay relation in a live DuckDB OLTP
    // announces event ids in `op:id` payloads; NotifyShim polls it over
    // JDBC, fetches the announced rows by key, appends arrival files; a
    // worker pass over the arrival directory must equal batch SCD1
    // over exactly the DISTINCT announced events — replayed
    // notifications (at-least-once) and foreign/malformed payloads
    // included
    import graft.streaming.NotifyShim
    val ev = Tables.events(spark, sf).limit(60)
      .orderBy($"ts", $"event_id").collect()
    val ids = ev.map(_.getAs[Long]("event_id"))
    val (batch1, batch2) = ids.splitAt(40)
    val db = graft.sources.Scratch.path("graft-duckdb-notify")
      .resolve("oltp.db").toString
    val conn = graft.sources.Jdbc.ConnInfo(
      s"jdbc:duckdb:$db", "", "", "org.duckdb.DuckDBDriver")
    assert(SyncMain.driverFor(conn.url) === "org.duckdb.DuckDBDriver")
    Class.forName(conn.driver)
    val ddl = java.sql.DriverManager.getConnection(conn.url)
    val st = ddl.createStatement()
    st.execute("CREATE TABLE notifications (notify_id BIGINT, " +
      "channel VARCHAR, payload VARCHAR)")
    // the OLTP events table itself, loaded from the same testdata rows
    st.execute("CREATE TABLE events (event_id BIGINT, ts TIMESTAMP, " +
      "user_id BIGINT, event_type VARCHAR, value DOUBLE, props VARCHAR)")
    val ins = ddl.prepareStatement("INSERT INTO events VALUES (?,?,?,?,?,?)")
    ev.foreach { r =>
      ins.setLong(1, r.getAs[Long]("event_id"))
      ins.setTimestamp(2, r.getAs[java.sql.Timestamp]("ts"))
      ins.setLong(3, r.getAs[Long]("user_id"))
      ins.setString(4, r.getAs[String]("event_type"))
      ins.setDouble(5, r.getAs[Double]("value"))
      ins.setString(6, r.getAs[String]("props"))
      ins.executeUpdate()
    }
    def notify(id: Long, channel: String, payload: String): Unit =
      st.execute(s"INSERT INTO notifications VALUES ($id, '$channel', '$payload')")
    val arrivals = graft.sources.Scratch.dir("graft_notify_arrivals")
    // poll 1: batch1 announced as insert ops, plus noise the parse must
    // route away — a foreign channel and a colon-less payload
    batch1.zipWithIndex.foreach { case (e, i) => notify(i + 1, "events_sync", s"insert:$e") }
    notify(batch1.length + 1L, "ventas_sync", s"insert:${batch2.head}")
    notify(batch1.length + 2L, "events_sync", "heartbeat")
    val evSchema = Some(Tables.events(spark, sf).schema)
    val mark1 = NotifyShim.listenLoop(spark, conn, "notifications", "events",
      arrivals, afterId = 0L, pollMillis = 1L, maxPolls = 1,
      schemaFrom = evSchema)
    assert(mark1 === batch1.length + 2L)
    // poll 2: batch2 as update ops PLUS a full replay of one batch1 id
    // (NOTIFY is at-least-once across reconnects) and a malformed id
    val base = mark1
    batch2.zipWithIndex.foreach { case (e, i) => notify(base + i + 1, "events_sync", s"update:$e") }
    notify(base + batch2.length + 1L, "events_sync", s"update:${batch1.head}")
    notify(base + batch2.length + 2L, "events_sync", "update:oops")
    val mark2 = NotifyShim.relayOnce(spark, conn, "notifications", "events",
      arrivals, mark1, schemaFrom = evSchema)
    assert(mark2 === base + batch2.length + 2L)
    // idle poll: mark unchanged, no new files
    val files = new java.io.File(arrivals).listFiles().count(_.getName.endsWith(".parquet"))
    assert(NotifyShim.relayOnce(spark, conn, "notifications", "events",
      arrivals, mark2, schemaFrom = evSchema) === mark2)
    assert(new java.io.File(arrivals).listFiles()
      .count(_.getName.endsWith(".parquet")) === files)
    // the worker over the relayed arrivals == batch SCD1 over the
    // distinct ANNOUNCED events (the replayed id dedups; ventas/malformed
    // payloads never relayed)
    val stateDir = graft.sources.Scratch.dir("graft_notify_state")
    val ckpt = graft.sources.Scratch.dir("graft_notify_ckpt")
    StateSink.run(
      EventsCdc.dedupStream(
        EventsCdc.readEventStream(spark, arrivals, Tables.events(spark, sf)),
        "3650 days"),
      ckpt)(EventsCdc.scd1MergeBatch(spark, stateDir, Seq("user_id")))
      .awaitTermination()
    val vmax = EventsCdc.stateVersions(spark, stateDir).max
    val got = spark.read.parquet(s"$stateDir/v=$vmax")
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    val expected = StarSchema.scd1Latest(
        Tables.events(spark, sf).filter($"event_id".isin(ids.toSeq: _*)),
        Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      .select($"user_id", $"event_id").as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty && got === expected)
    ddl.close()
  }
}
