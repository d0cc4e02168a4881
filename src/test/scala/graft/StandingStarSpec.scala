package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType
import graft.olap.StarSchemaJob
import graft.sources.{FileFormats, Scratch, Tables}

/** Metadata reads of a standing star — `StarSchemaJob.status` from parquet
  * footers and the schema gate's `FileFormats.standingSchema` from one
  * partition leaf — must answer exactly what a full Spark read answers,
  * without its jobs; an in-process session must open a many-partition
  * table without a listing job; and the partition-grain re-sync must keep
  * the layout the standing fact was written in. */
class StandingStarSpec extends SparkSpec {
  import spark.implicits._

  private def firstDataFile(dir: String): Path = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    finally s.close()
  }

  private def partitionDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq.filter(_.isDirectory).map(_.getName)

  /** The fact's key columns with the ship date as its partition key. */
  private def lines = Tables.lineitem(spark, sf)
    .select($"l_orderkey", $"l_linenumber", $"l_shipdate".cast("date").as("date_key"))

  test("status counts rows from footers: count() answers, -1 when unreadable, stray files skipped, no job") {
    val out = Scratch.dir("graft_status_footers")
    StarSchemaJob.run(spark, sf, out)
    def status(): Map[String, Long] =
      StarSchemaJob.status(spark, out).as[(String, Long)].collect().toMap
    val counts = status().keys.map(t => t -> spark.read.parquet(s"$out/$t").count()).toMap
    assert(counts.size === 8 && counts.values.forall(_ > 0))
    assert(status() === counts)
    assert(jobsDuring(StarSchemaJob.status(spark, out).collect()) === 0,
      "status must read footers on the driver, not run a Spark job")

    // copies of a real data file under names every read skips: a task's
    // _temporary output, a checksum, a hidden file, an unfinished upload
    val fact = s"$out/fact_sales"
    val file = firstDataFile(fact)
    val leaf = file.getParent
    def plant(target: Path): Unit = {
      Files.createDirectories(target.getParent)
      Files.copy(file, target, StandardCopyOption.REPLACE_EXISTING)
    }
    plant(Paths.get(fact, "_temporary", "0", "_temporary", "attempt_0", "part-0.parquet"))
    plant(leaf.resolve(".part-9.parquet.crc"))
    plant(leaf.resolve(".hidden"))
    plant(leaf.resolve("part-9.parquet._COPYING_"))
    assert(spark.read.parquet(fact).count() === counts("fact_sales"))
    assert(status() === counts)

    // a missing table, an empty directory, a directory holding only the
    // commit marker: no read resolves, and status answers -1 for each
    def clear(t: String): java.io.File = {
      val d = new java.io.File(s"$out/$t")
      d.listFiles().foreach(f => assert(f.delete()))
      d
    }
    assert(clear("dim_shipmode").delete())
    clear("dim_priority")
    assert(new java.io.File(clear("dim_category"), "_SUCCESS").createNewFile())
    val unreadable = Seq("dim_shipmode", "dim_priority", "dim_category")
    unreadable.foreach { t =>
      intercept[AnalysisException](spark.read.parquet(s"$out/$t").schema)
    }
    assert(status() === counts ++ unreadable.map(_ -> -1L))
  }

  test("standingSchema reads one partition leaf and answers what a whole read answers") {
    val base = Scratch.dir("graft_standing_schema")
    def agrees(dir: String): org.apache.spark.sql.types.StructType = {
      val whole = spark.read.parquet(dir).schema
      assert(FileFormats.standingSchema(spark, dir) === Some(whole), dir)
      assert(whole("date_key").dataType === DateType, dir)
      whole
    }
    FileFormats.writeFact(lines, s"$base/day")
    agrees(s"$base/day")
    FileFormats.writeFact(lines, s"$base/month", granularity = "month")
    assert(agrees(s"$base/month")("month_key").dataType === DateType)
    FileFormats.writeDim(lines.limit(10), s"$base/dim")
    agrees(s"$base/dim")
    // a NULL key lands in __HIVE_DEFAULT_PARTITION__, the last name in
    // the listing; read alone, its NULL would infer date_key as a string
    FileFormats.writeFact(
      lines.withColumn("date_key", when($"l_linenumber" =!= 1, $"date_key")),
      s"$base/nulls")
    assert(partitionDirs(s"$base/nulls").contains("date_key=__HIVE_DEFAULT_PARTITION__"))
    agrees(s"$base/nulls")

    // 60 partitions, above the 32-path threshold of Spark's distributed
    // partition listing; the leaf read lists one leaf and takes its data
    // schema from one footer, so it runs no Spark job at all (Spark's own
    // whole read runs its one-task schema job, pinned below)
    val cut = lines.select($"date_key").distinct().orderBy($"date_key")
      .limit(60).collect().last.get(0)
    FileFormats.writeFact(lines.filter($"date_key" <= cut), s"$base/sixty")
    assert(partitionDirs(s"$base/sixty").size === 60)
    val jobs = jobsDuring(FileFormats.standingSchema(spark, s"$base/sixty"))
    assert(jobs === 0, s"standingSchema ran $jobs Spark jobs on 60 partitions")
    agrees(s"$base/sixty")

    assert(FileFormats.standingSchema(spark, s"$base/missing") === None)
    assert(new java.io.File(s"$base/empty").mkdirs())
    assert(FileFormats.standingSchema(spark, s"$base/empty") === None)
  }

  test("readParquet answers Spark's schema from one footer: tables, layouts, stray names, nested types") {
    def agrees(path: String): Unit =
      assert(FileFormats.readParquet(spark, path).schema ===
        spark.read.parquet(path).schema, path)
    // every test table; events' TIMESTAMP(NANOS) under the session's nanosAsLong
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    Tables.all.foreach(t => agrees(s"$sf/$t.parquet"))

    val base = Scratch.dir("graft_read_parquet")
    FileFormats.writeFact(lines, s"$base/day")
    FileFormats.writeFact(lines, s"$base/month", granularity = "month")
    FileFormats.writeRangeSorted(lines, s"$base/flat", "l_orderkey", 4)
    assert(new java.io.File(s"$base/flat").list().count(_.endsWith(".parquet")) === 4)
    FileFormats.writeFact(
      lines.withColumn("date_key", when($"l_linenumber" =!= 1, $"date_key")),
      s"$base/nulls")
    FileFormats.writeFact(lines.withColumn("date_key", lit(null).cast(DateType)),
      s"$base/only_nulls")
    assert(partitionDirs(s"$base/only_nulls") === Seq("date_key=__HIVE_DEFAULT_PARTITION__"))
    Seq("day", "month", "flat", "nulls", "only_nulls").foreach(d => agrees(s"$base/$d"))

    // a different-schema parquet file planted under every name a read
    // skips: picking any of them would change the schema
    val stray = s"$base/stray_src"
    spark.range(3).toDF("stray").write.parquet(stray)
    val strayFile = firstDataFile(stray)
    val day = s"$base/day"
    val leaf = firstDataFile(day).getParent
    def plant(target: Path): Unit = {
      Files.createDirectories(target.getParent)
      Files.copy(strayFile, target, StandardCopyOption.REPLACE_EXISTING)
    }
    plant(Paths.get(day, "_SUCCESS"))
    plant(Paths.get(day, "_temporary", "0", "_temporary", "attempt_0", "part-0.parquet"))
    plant(Paths.get(day, ".part-0.parquet.crc"))
    plant(Paths.get(day, ".hidden"))
    plant(Paths.get(day, "part-0.parquet._COPYING_"))
    plant(leaf.resolve(".part-9.parquet.crc"))
    plant(leaf.resolve("a-part.parquet._COPYING_"))
    agrees(day)
    assert(!FileFormats.readParquet(spark, day).columns.contains("stray"))

    // a summary file is Spark's schema source; the read defers to Spark
    val summarized = s"$base/summarized"
    FileFormats.writeRangeSorted(lines, summarized, "l_orderkey", 2)
    Files.copy(strayFile, Paths.get(summarized, "_common_metadata"))
    agrees(summarized)

    // Spark-written nested, map and timestamp_ntz columns: the footer's
    // Spark row metadata carries them
    val nested = s"$base/nested"
    spark.range(5).select(
      $"id",
      struct($"id".as("a"), array(struct(($"id" * 2).as("b"))).as("xs")).as("s"),
      map($"id".cast("string"), $"id".cast("double")).as("m"),
      expr("make_timestamp_ntz(2024, 1, 1 + cast(id as int), 12, 30, 45.5)").as("ntz"),
      expr("cast(id as decimal(12, 3))").as("d")
    ).write.parquet(nested)
    agrees(nested)
    assert(FileFormats.readParquet(spark, nested).schema("ntz").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    assert(FileFormats.readParquet(spark, nested).collect().toSeq ===
      spark.read.parquet(nested).collect().toSeq)

    // no data to read: the same exception as Spark's read
    assert(new java.io.File(s"$base/empty").mkdirs())
    assert(new java.io.File(s"$base/marker_only").mkdirs())
    assert(new java.io.File(s"$base/marker_only/_SUCCESS").createNewFile())
    Seq("missing", "empty", "marker_only").foreach { d =>
      val spark0 = intercept[Exception](spark.read.parquet(s"$base/$d").schema)
      val ours = intercept[Exception](FileFormats.readParquet(spark, s"$base/$d").schema)
      assert(ours.getClass === spark0.getClass, d)
      assert(ours.isInstanceOf[AnalysisException], d)
    }
  }

  test("engine reads open a table, the standing schema and a CDC state version without a Spark job") {
    assert(jobsDuring(Tables.orders(spark, sf).schema) === 0,
      "Tables.orders must open from one footer")
    assert(jobsDuring(Tables.events(spark, sf).schema) === 0,
      "Tables.events' type dispatch must open from one footer")
    // Spark's own read of the same table runs its schema-inference job
    assert(jobsDuring(spark.read.parquet(s"$sf/orders.parquet").schema) === 1)

    val state = Scratch.dir("graft_state_read")
    val batch = Tables.events(spark, sf).limit(50)
    graft.streaming.EventsCdc.scd1MergeBatch(spark, state, Seq("user_id"))(batch, 1)
    assert(jobsDuring(FileFormats.readParquet(spark, s"$state/v=1").schema) === 0,
      "a versioned state read must open from one footer")
  }

  test("an in-process session opens a many-partition table without a listing job, listing afresh on every read") {
    assert(Seq("local", "local[4]", "local[*]", "local[4,2]", "local[*, 3]")
      .forall(GraftSession.inProcess))
    assert(!Seq("local-cluster[2,1,1024]", "yarn", "spark://host:7077")
      .exists(GraftSession.inProcess))
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") ===
      Int.MaxValue.toString, "the suite's local[4] session lists on the driver")

    val dir = Scratch.dir("graft_driver_listing") + "/fact"
    val dates = lines.select($"date_key").distinct().orderBy($"date_key")
      .limit(61).as[java.sql.Date].collect()
    FileFormats.writeFact(lines.filter($"date_key" < dates.last), dir)
    assert(partitionDirs(dir).size === 60)
    val jobs = jobsDuring(spark.read.parquet(dir).schema)
    assert(jobs === 1, s"a whole read of 60 partitions ran $jobs Spark jobs, not the one schema job")

    // a 61st date lands after a read: the next read lists it, so nothing
    // of the earlier listing is kept across reads
    val before = spark.read.parquet(dir).count()
    val added = lines.filter($"date_key" === dates.last)
    FileFormats.writeFactUnchecked(added, dir, "day", dynamic = true)
    assert(partitionDirs(dir).size === 61)
    val after = spark.read.parquet(dir).count()
    assert(after === before + added.count())
    assert(FileFormats.footerRowCount(spark, dir) === Some(after))
  }

  test("the schema gate of a mixed-schema fact anchors on its latest-named leaf") {
    // a widened partition-grain sync leaves widened partitions next to old
    // ones; the gate reads the leaf that sorts last, so the verdict on an
    // old-layout rewrite depends on where the widened partitions sit
    val cut = lines.select($"date_key").distinct().orderBy($"date_key")
      .limit(30).collect().last.get(0)
    def mixed(name: String, widenedLate: Boolean): String = {
      val dir = Scratch.dir(name) + "/fact"
      val late = $"date_key" > cut
      FileFormats.writeFact(lines.filter(if (widenedLate) !late else late), dir)
      FileFormats.writeFactUnchecked(
        lines.filter(if (widenedLate) late else !late)
          .withColumn("l_quantity", lit(1.0)),
        dir, "day", dynamic = true)
      dir
    }
    val lateDir = mixed("graft_gate_mixed_late", widenedLate = true)
    val standing = spark.read.parquet(lateDir).count()
    val err = intercept[IllegalArgumentException](FileFormats.writeFact(lines, lateDir))
    assert(err.getMessage.contains("l_quantity"))
    assert(spark.read.parquet(lateDir).count() === standing, "standing data intact")
    FileFormats.writeFact(lines.withColumn("l_quantity", lit(2.0)), lateDir)

    val earlyDir = mixed("graft_gate_mixed_early", widenedLate = false)
    FileFormats.writeFact(lines, earlyDir)
    assert(!spark.read.parquet(earlyDir).columns.contains("l_quantity"))
  }

  test("syncIncremental on a month-grain star rebuilds whole months in the month layout") {
    val out = Scratch.dir("graft_sync_month")
    StarSchemaJob.run(spark, sf, out, factGranularity = "month")
    val factDir = s"$out/fact_sales"
    val fresh = StarSchemaJob.build(spark, sf).factSales
    val custKeys = Tables.orders(spark, sf).select($"o_custkey").distinct()
      .orderBy($"o_custkey").limit(6).as[Long].collect().toSeq
    custKeys.grouped(3).foreach { batch =>
      val months = Tables.orders(spark, sf).filter($"o_custkey".isin(batch: _*))
        .select(trunc(to_date($"o_orderdate"), "month").as("month"))
      val expected = fresh
        .join(months, trunc($"date_key", "month") === $"month", "left_semi")
        .count()
      val rewritten = StarSchemaJob.syncIncremental(
        spark, sf, out, batch.toDF("user_id"))
      assert(rewritten === expected,
        "every fact row of each changed month is rewritten, and no other")
    }
    assert(partitionDirs(factDir).forall(_.startsWith("month_key=")))
    val back = spark.read.parquet(factDir).drop("month_key")
      .select(fresh.columns.map(col): _*)
    assert(back.count() === fresh.count())
    assert(back.exceptAll(fresh).isEmpty && fresh.exceptAll(back).isEmpty)
  }
}
