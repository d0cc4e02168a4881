package graft

import java.nio.file.Files
import org.apache.spark.sql.types.DateType
import graft.sources.{FileFormats, Jdbc, Tables}

/** §2D source/sink layer: JDBC upsert (statement shape as a pure function,
  * plus the real `foreachPartition` executor path run against an embedded
  * DuckDB — no Postgres in the container, but the batching/commit/
  * idempotency semantics are engine-independent), CSV/JSON explicit-schema
  * readers, and the StarSchemaJob parquet star sink (typed partition
  * column, partition-pruned read-back). */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("upsertSql emits the reference ON CONFLICT DO UPDATE shape") {
    val sql = Jdbc.upsertSql("dim_c", Seq("k1", "k2", "a", "b"), Seq("k1", "k2"))
    assert(sql === "INSERT INTO dim_c (k1, k2, a, b) VALUES (?, ?, ?, ?) " +
      "ON CONFLICT (k1, k2) DO UPDATE SET a = EXCLUDED.a, b = EXCLUDED.b")
    assert(Jdbc.upsertSql("t", Seq("k"), Seq("k")).endsWith("DO NOTHING"))
    assertThrows[IllegalArgumentException] {
      Jdbc.upsertSql("t", Seq("a"), Seq("missing"))
    }
    // the newest-wins guard rides the conflict update as a row-value compare
    assert(Jdbc.upsertSql("t", Seq("k", "a", "ts", "id"), Seq("k"),
        guardCols = Seq("ts", "id"))
      .endsWith("DO UPDATE SET a = EXCLUDED.a, ts = EXCLUDED.ts, " +
        "id = EXCLUDED.id WHERE (t.ts, t.id) < (EXCLUDED.ts, EXCLUDED.id)"))
  }

  test("upsert runs for real against an embedded DuckDB: insert, conflict-update, idempotent rerun") {
    val db = graft.sources.Scratch.path("graft-duckdb").resolve("olap.db").toString
    val conn = Jdbc.ConnInfo(s"jdbc:duckdb:$db", "", "", "org.duckdb.DuckDBDriver")
    // ON CONFLICT needs an arbiter index — same as the reference's Postgres DDL.
    // Keep this connection OPEN for the whole test: duckdb-java shares one
    // native database instance per file only while some connection holds it;
    // letting the instance shut down between operations makes the next two
    // CONCURRENT executor opens race to re-create it (observed: lost writes
    // and a native SIGSEGV). A pinned connection is also the realistic
    // shape — a live OLAP warehouse is never instance-per-statement.
    Class.forName(conn.driver)
    val ddl = java.sql.DriverManager.getConnection(conn.url)
    try {
      ddl.createStatement().execute(
        "CREATE TABLE dim_customer (c_custkey BIGINT PRIMARY KEY, name VARCHAR, acctbal DOUBLE)")

    // Spark's generic JDBC dialect maps DuckDB's BIGINT to DECIMAL(20,0);
    // cast back for the typed compare (values are unaffected)
    def readBack(): Seq[(Long, String, Double)] =
      Jdbc.readTable(spark, conn, "dim_customer")
        .select($"c_custkey".cast("long"), $"name", $"acctbal")
        .orderBy("c_custkey").as[(Long, String, Double)].collect().toSeq

    // initial load over multiple partitions (concurrent executor connections)
    val base = Seq((1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0))
    Jdbc.upsert(base.toDF("c_custkey", "name", "acctbal").repartition(2),
      conn, "dim_customer", Seq("c_custkey"), batchSize = 2)
    assert(readBack() === base)

    // conflicting keys take the new values (SCD1), fresh keys insert
    val v2 = Seq((2L, "bob", 25.0), (4L, "dave", 40.0))
    Jdbc.upsert(v2.toDF("c_custkey", "name", "acctbal"),
      conn, "dim_customer", Seq("c_custkey"))
    val merged = Seq((1L, "alice", 10.0), (2L, "bob", 25.0),
                     (3L, "carol", 30.0), (4L, "dave", 40.0))
    assert(readBack() === merged)

    // re-running the identical upsert is a no-op — the task-retry /
    // at-least-once safety the reference's ON CONFLICT semantics promise
    Jdbc.upsert(v2.toDF("c_custkey", "name", "acctbal"),
      conn, "dim_customer", Seq("c_custkey"))
    assert(readBack() === merged)
    } finally ddl.close()
  }

  test("star sinks: widened rewrite accepted, narrowed/retyped refused with data intact") {
    val dir = graft.sources.Scratch.dir("graft_evo_dim") + "/dim"
    FileFormats.writeDim(Seq((1L, "a"), (2L, "b")).toDF("k", "name"), dir)
    // widening (a column added upstream) rewrites fine
    FileFormats.writeDim(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "name", "score"), dir)
    assert(spark.read.parquet(dir).columns.toSet === Set("k", "name", "score"))
    // narrowing refuses BEFORE the overwrite destroys the standing copy,
    // naming every dropped column
    val err = intercept[IllegalArgumentException] {
      FileFormats.writeDim(Seq(1L).toDF("k"), dir)
    }
    assert(err.getMessage.contains("name") && err.getMessage.contains("score"))
    assert(spark.read.parquet(dir).count() === 2, "standing data intact")
    // a retyped column refuses too, naming both types
    val err2 = intercept[IllegalArgumentException] {
      FileFormats.writeDim(
        Seq((1L, "a", "high")).toDF("k", "name", "score"), dir)
    }
    assert(err2.getMessage.contains("score") &&
      err2.getMessage.contains("double") && err2.getMessage.contains("string"))

    // the fact sink makes the same decision through its partitioned layout
    val fdir = graft.sources.Scratch.dir("graft_evo_fact") + "/fact"
    def fact(cols: String*) = Tables.lineitem(spark, sf)
      .select($"l_shipdate".cast("date").as("date_key") +:
        cols.map(c => org.apache.spark.sql.functions.col(c)): _*)
      .limit(200)
    FileFormats.writeFact(fact("l_orderkey", "l_linenumber"), fdir)
    FileFormats.writeFact(
      fact("l_orderkey", "l_linenumber", "l_quantity"), fdir) // widened: ok
    assert(spark.read.parquet(fdir).columns.contains("l_quantity"))
    val ferr = intercept[IllegalArgumentException] {
      FileFormats.writeFact(fact("l_orderkey"), fdir)
    }
    assert(ferr.getMessage.contains("l_linenumber"))
  }

  test("readEvolved surfaces columns across schema versions of one directory") {
    // a standing table whose newer files carry an added column (the
    // mixed-file state a widened partition-grain sync leaves behind): the
    // default single-footer read may MISS the column; the evolved read
    // unions every footer and older rows surface it as NULL
    val dir = graft.sources.Scratch.dir("graft_evo_read") + "/t"
    Seq((1L, "a")).toDF("k", "name")
      .write.mode("append").parquet(dir)
    Seq((2L, "b", 9.0)).toDF("k", "name", "score")
      .write.mode("append").parquet(dir)
    val got = FileFormats.readEvolved(spark, dir)
      .orderBy($"k").select($"k", $"name", $"score")
      .as[(Long, String, Option[Double])].collect().toSeq
    assert(got === Seq((1L, "a", None), (2L, "b", Some(9.0))))
  }

  test("JDBC upsert evolution: widened frame gated on opt-in, narrower frame retains unset columns") {
    val db = graft.sources.Scratch.path("graft-duckdb-evo").resolve("olap.db").toString
    val conn = Jdbc.ConnInfo(s"jdbc:duckdb:$db", "", "", "org.duckdb.DuckDBDriver")
    Class.forName(conn.driver)
    val ddl = java.sql.DriverManager.getConnection(conn.url)
    try {
      ddl.createStatement().execute(
        "CREATE TABLE t (k BIGINT PRIMARY KEY, a VARCHAR)")
      Jdbc.upsert(Seq((1L, "x"), (2L, "y")).toDF("k", "a"), conn, "t", Seq("k"))
      // widened frame without opt-in: refused on the DRIVER before any row
      // moves, naming the new column — never a mid-partition SQLException
      val widened = Seq((1L, "x2", 1.5)).toDF("k", "a", "b")
      val err = intercept[IllegalArgumentException] {
        Jdbc.upsert(widened, conn, "t", Seq("k"))
      }
      assert(err.getMessage.contains("b") &&
        err.getMessage.contains("addMissingColumns"))
      // with opt-in the table evolves (ALTER TABLE ADD COLUMN): updated row
      // carries the value, untouched rows read NULL
      Jdbc.upsert(widened, conn, "t", Seq("k"), addMissingColumns = true)
      def readBack(): Seq[(Long, String, Option[Double])] =
        Jdbc.readTable(spark, conn, "t")
          .select($"k".cast("long"), $"a", $"b")
          .orderBy("k").as[(Long, String, Option[Double])].collect().toSeq
      assert(readBack() === Seq((1L, "x2", Some(1.5)), (2L, "y", None)))
      // a NARROWER frame is legal upsert algebra: ON CONFLICT DO UPDATE
      // sets only the provided columns, so k=1's b survives its update
      Jdbc.upsert(Seq((1L, "x3")).toDF("k", "a"), conn, "t", Seq("k"))
      assert(readBack() === Seq((1L, "x3", Some(1.5)), (2L, "y", None)))
    } finally ddl.close()
  }

  test("partitioned JDBC read runs for real: range slices + pushed predicate against embedded DuckDB") {
    val db = graft.sources.Scratch.path("graft-duckdb-src").resolve("oltp.db").toString
    val conn = Jdbc.ConnInfo(s"jdbc:duckdb:$db", "", "", "org.duckdb.DuckDBDriver")
    Class.forName(conn.driver)
    // pinned open across the concurrent partition reads (see upsert test)
    val ddl = java.sql.DriverManager.getConnection(conn.url)
    try {
      ddl.createStatement().execute(
        "CREATE TABLE orden AS SELECT r AS orden_id, r % 7 AS cliente_id, r * 1.5 AS total " +
          "FROM range(1, 1001) t(r)")

      // the reference reads the OLTP table through one cursor
      // (sync_oltp_to_olap.py:194-260); here the same table arrives as range
      // slices — one remote query per partition, executed concurrently
      val df = Jdbc.readPartitioned(spark, conn, "orden",
        partitionColumn = "orden_id", lower = 1L, upper = 1000L, numPartitions = 4)
      assert(df.rdd.getNumPartitions === 4, "range read must split into 4 slices")

      val filtered = df.filter($"cliente_id" === 3).select($"orden_id", $"total")
      // the predicate must ride the remote SQL, not run Spark-side
      val plan = planOf(filtered)
      assert(plan.contains("PushedFilters") && plan.contains("cliente_id"),
        s"predicate not pushed into the JDBC scan:\n$plan")
      val got = filtered.select($"orden_id".cast("long")).as[Long].collect().toSet
      assert(got === (1L to 1000L).filter(_ % 7 == 3).toSet)
    } finally ddl.close()
  }

  test("changed-key JDBC read pushes the key list into the remote subquery") {
    val db = graft.sources.Scratch.path("graft-duckdb-chg").resolve("oltp.db").toString
    val conn = Jdbc.ConnInfo(s"jdbc:duckdb:$db", "", "", "org.duckdb.DuckDBDriver")
    Class.forName(conn.driver)
    // pinned open across the read (see upsert test)
    val ddl = java.sql.DriverManager.getConnection(conn.url)
    try {
      ddl.createStatement().execute(
        "CREATE TABLE clientes AS SELECT r AS cliente_id, 'c' || r AS nombre FROM range(1, 101) t(r)")
      // the CDC worker path (worker_sync.py:94-108): only the notified keys
      // leave the OLTP store
      val changed = Jdbc.readChanged(spark, conn, "clientes", "cliente_id", Seq(7L, 42L, 99L))
      assert(changed.select($"cliente_id".cast("long")).as[Long].collect().toSet
        === Set(7L, 42L, 99L))
    } finally ddl.close()
  }

  test("range-sorted sink writes disjoint, ordered file ranges that prune") {
    import org.apache.spark.sql.functions.{max, min}
    val dir = graft.sources.Scratch.dir("graft_rangesort")
    FileFormats.writeRangeSorted(
      Tables.lineitem(spark, sf).select($"l_orderkey", $"l_quantity"),
      dir, "l_orderkey", numFiles = 8)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length > 1, "range write should produce multiple files")
    // per-file key ranges must be disjoint — the property that makes
    // min/max stats prune whole files for any range predicate
    val ranges = files.flatMap { f =>
      val d = spark.read.parquet(f)
      if (d.isEmpty) None
      else Some(d.agg(min($"l_orderkey"), max($"l_orderkey"))
        .as[(Long, Long)].head())
    }
    ranges.foreach { case (lo, hi) => assert(lo <= hi) }
    // STRICTLY disjoint: range partitioning keeps all copies of a key in
    // one partition, so a shared boundary key across two files would mean
    // the layout (and its pruning guarantee) is broken
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file ranges not disjoint: $hi1 >= $lo2")
      case _ =>
    }
    // and a point read returns exactly the plain-scan result
    val k = Tables.lineitem(spark, sf).agg(max($"l_orderkey")).as[Long].head()
    val expected = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" === k).count()
    assert(spark.read.parquet(dir).filter($"l_orderkey" === k).count() === expected)
  }

  test("z-ordered sink keeps tight per-file spans on BOTH keys") {
    import org.apache.spark.sql.functions.{max, min}
    val dir = graft.sources.Scratch.dir("graft_zorder")
    // l_orderkey and l_partkey have comparable bit widths — the regime
    // where curve locality helps both dimensions (see zValue scaladoc)
    val src = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey", $"l_quantity")
    FileFormats.writeZOrdered(src, dir, "l_orderkey", "l_partkey", numFiles = 16)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    assert(files.length > 4, "z-order write should produce multiple files")
    val spans = files.map { f =>
      spark.read.parquet(f)
        .agg(min($"l_orderkey"), max($"l_orderkey"),
             min($"l_partkey"), max($"l_partkey"))
        .as[(Long, Long, Long, Long)].head()
    }
    // a point predicate on EITHER key must skip at least half the files on
    // min/max stats alone — the property a single-key sort cannot give to
    // both dimensions at once
    val (probeO, probeP) = src
      .agg((max($"l_orderkey") / 2).cast("long"), (max($"l_partkey") / 2).cast("long"))
      .as[(Long, Long)].head()
    val hitsO = spans.count { case (lo, hi, _, _) => lo <= probeO && probeO <= hi }
    val hitsP = spans.count { case (_, _, lo, hi) => lo <= probeP && probeP <= hi }
    assert(hitsO <= files.length / 2, s"orderkey probe hits $hitsO of ${files.length} files")
    assert(hitsP <= files.length / 2, s"partkey probe hits $hitsP of ${files.length} files")
    // layout only — content must be exactly the source
    assert(spark.read.parquet(dir).count() === src.count())
    val expected = src.filter($"l_partkey" === probeP).count()
    assert(spark.read.parquet(dir).filter($"l_partkey" === probeP).count() === expected)
  }

  test("csv and json readers roundtrip with explicit schemas") {
    val dir = graft.sources.Scratch.dir("graft_ff")
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("id", "name", "x")
    df.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    df.write.mode("overwrite").json(s"$dir/json")
    assert(FileFormats.csv(spark, s"$dir/csv", df.schema)
      .orderBy("id").collect() === df.orderBy("id").collect())
    assert(FileFormats.json(spark, s"$dir/json", df.schema)
      .orderBy("id").collect() === df.orderBy("id").collect())
  }

  test("orc sink/source roundtrips with an explicit schema") {
    val dir = graft.sources.Scratch.dir("graft_orc")
    val df = Seq((1L, "a", 1.5), (2L, "b", -2.25)).toDF("id", "name", "x")
    FileFormats.writeOrc(df, s"$dir/orc")
    assert(FileFormats.orc(spark, s"$dir/orc", df.schema)
      .orderBy("id").collect() === df.orderBy("id").collect())
  }

  test("compact merges a many-small-file table into few size-targeted files, shuffle-free") {
    val dir = graft.sources.Scratch.dir("graft_compact")
    // simulate streaming-sink accretion: 24 tiny files
    val df = spark.range(0, 24000).select($"id",
      org.apache.spark.sql.functions.md5($"id".cast("string")).as("payload"))
    df.repartition(24).write.parquet(s"$dir/small")
    val smallFiles = new java.io.File(s"$dir/small").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(smallFiles.length === 24)
    val target = smallFiles.map(_.length()).sum / 3  // aim for ~3 files
    val n = FileFormats.compact(spark, s"$dir/small", s"$dir/big", target)
    val bigFiles = new java.io.File(s"$dir/big").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(n >= 3 && n <= 4 && bigFiles.length === n,
      s"expected ~3 compacted files, got $n planned / ${bigFiles.length} written")
    // content survives byte-for-byte
    assert(spark.read.parquet(s"$dir/big").orderBy("id").collect()
      === df.orderBy("id").collect())
    // coalesce is narrow: the compaction job must plan no exchange
    val plan = planOf(spark.read.parquet(s"$dir/small").coalesce(3))
    assert(!plan.contains("Exchange"), s"compaction must not shuffle:\n$plan")
  }

  test("compactAndSwap rewrites in place atomically and refuses a lossy swap") {
    val dir = graft.sources.Scratch.dir("graft_swap") + "/t"
    val df = spark.range(0, 8000).select($"id",
      org.apache.spark.sql.functions.md5($"id".cast("string")).as("payload"))
    df.repartition(8).write.parquet(dir)
    val before = spark.read.parquet(dir).count()
    val n = FileFormats.compactAndSwap(spark, dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length === n && n < 8, s"expected <8 files, got ${files.length}")
    assert(spark.read.parquet(dir).count() === before)
    assert(!new java.io.File(dir + ".compact_old").exists(), "old copy must be gone")
    assert(!new java.io.File(dir + ".compact_tmp").exists(), "tmp must be gone")

    // failure path: a rewrite that lost rows is refused — the original
    // directory must be byte-identical and the bad rewrite cleaned up
    val tmp = dir + ".compact_tmp"
    spark.read.parquet(dir).limit(10).write.mode("overwrite").parquet(tmp)
    val ex = intercept[IllegalStateException] {
      FileFormats.swapCompacted(spark, dir, tmp, before, dir + ".compact_old")
    }
    assert(ex.getMessage.contains("refused"))
    assert(spark.read.parquet(dir).count() === before, "original must survive")
    assert(!new java.io.File(tmp).exists(), "refused rewrite must be cleaned up")
  }

  test("compactAndSwap restores a directory an interrupted swap left aside, then compacts it") {
    val dir = graft.sources.Scratch.dir("graft_swap_recover") + "/t"
    val df = spark.range(0, 4000).select($"id",
      org.apache.spark.sql.functions.md5($"id".cast("string")).as("payload"))
    df.repartition(6).write.parquet(dir)
    val before = spark.read.parquet(dir).orderBy("id").collect().toSeq
    // the crash window: the original moved aside, the rewrite never renamed in
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".compact_old")))
    val n = FileFormats.compactAndSwap(spark, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.length === n && n < 6, s"expected <6 files, got ${files.length}")
    assert(spark.read.parquet(dir).orderBy("id").collect().toSeq === before)
    assert(!new java.io.File(dir + ".compact_old").exists(), "old copy must be gone")
  }

  test("compactAndSwap refuses a partitioned directory before writing anything") {
    val dir = graft.sources.Scratch.dir("graft_swap_partitioned") + "/fact"
    val lines = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_linenumber", $"l_shipdate".cast("date").as("date_key"))
    val dates = lines.select($"date_key").distinct().orderBy($"date_key")
      .limit(3).as[java.sql.Date].collect()
    FileFormats.writeFact(lines.filter($"date_key" <= dates.last), dir)
    def partitions = new java.io.File(dir).list().filter(_.startsWith("date_key=")).sorted.toSeq
    val before = partitions
    val rows = FileFormats.footerRowCount(spark, dir)
    assert(before.size === 3)
    val ex = intercept[IllegalArgumentException](FileFormats.compactAndSwap(spark, dir))
    assert(ex.getMessage.contains("partition directory"))
    assert(partitions === before)
    assert(FileFormats.footerRowCount(spark, dir) === rows)
    assert(!new java.io.File(dir + ".compact_tmp").exists(), "nothing written")
  }

  test("StarSchemaJob writes a readable star: typed partitions, pruned scans") {
    val out = graft.sources.Scratch.dir("graft_star_spec")
    val star = graft.olap.StarSchemaJob.run(spark, sf, out)
    val fact = spark.read.parquet(s"$out/fact_sales")
    // partition column comes back typed, and the inner star joins drop no rows
    assert(fact.schema("date_key").dataType === DateType)
    assert(fact.count() === Tables.lineitem(spark, sf).count())
    star.dims.keys.foreach { name =>
      assert(spark.read.parquet(s"$out/$name").count() > 0, s"$name is empty")
    }
    // a date filter must prune partitions at the source, not post-filter
    val plan = planOf(fact.filter($"date_key" === java.sql.Date.valueOf("1995-01-01")))
    assert(plan.contains("PartitionFilters") && plan.contains("date_key"))
    // health surface: every table present with its true count
    val status = graft.olap.StarSchemaJob.status(spark, out)
      .as[(String, Long)].collect().toMap
    assert(status("fact_sales") === fact.count())
    assert(status.size === 8 && status.values.forall(_ > 0))
  }

  test("writeFact lands exactly one file per partition directory at both granularities") {
    import org.apache.spark.sql.functions._
    val fact = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber",
        to_date($"o_orderdate").as("date_key"))
    def partDirs(dir: String, prefix: String): Seq[java.io.File] =
      new java.io.File(dir).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
    def parquetFiles(d: java.io.File): Int =
      d.listFiles().count(_.getName.endsWith(".parquet"))

    val dayDir = graft.sources.Scratch.dir("graft_fact_day")
    FileFormats.writeFact(fact, dayDir)
    val dayParts = partDirs(dayDir, "date_key=")
    val nDates = fact.select($"date_key").distinct().count()
    assert(dayParts.size.toLong === nDates)
    // the pre-write repartition on the partition column is what guarantees
    // this: every date lives in one task, so one file per directory
    assert(dayParts.forall(parquetFiles(_) === 1),
      "day granularity must write exactly one file per date directory")

    val monthDir = graft.sources.Scratch.dir("graft_fact_month")
    FileFormats.writeFact(fact, monthDir, granularity = "month")
    val monthParts = partDirs(monthDir, "month_key=")
    val nMonths = fact.select(trunc($"date_key", "month")).distinct().count()
    assert(monthParts.size.toLong === nMonths)
    assert(monthParts.forall(parquetFiles(_) === 1),
      "month granularity must write exactly one file per month directory")
    // same rows either way, and date_key survives as a data column inside
    // the month-grained files (sorted first within each file)
    assert(spark.read.parquet(monthDir).count() === fact.count())
    assert(spark.read.parquet(monthDir).schema.fieldNames.contains("date_key"))

    intercept[IllegalArgumentException] {
      FileFormats.writeFact(fact, monthDir, granularity = "week")
    }
  }

  test("incremental sync rewrites only affected partitions and preserves the star") {
    import org.apache.spark.sql.functions._
    val out = graft.sources.Scratch.dir("graft_star_inc")
    graft.olap.StarSchemaJob.run(spark, sf, out)
    def checksum() = spark.read.parquet(s"$out/fact_sales")
      .agg(count(lit(1)), graft.queries.Exact.dsum($"total_sale"),
           graft.queries.Exact.dsum($"margin"))
      .as[(Long, Double, Double)].head()
    val before = checksum()
    // source unchanged => the partition-grain rewrite must be a no-op in
    // content: identical row count and exact sums, nothing clobbered
    val changed = Tables.events(spark, sf)
      .filter($"event_type" === "purchase").select($"user_id").distinct()
    val rewritten = graft.olap.StarSchemaJob.syncIncremental(spark, sf, out, changed)
    assert(rewritten > 0 && rewritten < before._1,
      s"re-sync should touch a strict subset of rows ($rewritten of ${before._1})")
    assert(checksum() === before)
  }

  test("events ts dispatch normalizes every arrived type, refuses the rest") {
    // Tables.events' three-way branch (sources/Tables.scala) is pinned per
    // ARRIVED type, not just exercised by whichever testdata generation is
    // current: epoch-nanos BIGINT (the nanosAsLong arrival), TIMESTAMP_NTZ
    // (micros with isAdjustedToUTC=false), and plain TIMESTAMP must all
    // normalize to the same microsecond TimestampType values.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val micros = 1700000000123456L // 2023-11-14T22:13:20.123456Z
    def roundtrip(writeTs: org.apache.spark.sql.Column): java.sql.Timestamp = {
      val dir = graft.sources.Scratch.dir("graft_ntz")
      spark.range(1).select(lit(1L).as("user_id"), writeTs.as("ts"))
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val got = Tables.events(spark, dir)
      assert(got.schema("ts").dataType === TimestampType,
        s"dispatch must normalize to TimestampType, got ${got.schema("ts").dataType}")
      got.select($"ts").head().getTimestamp(0)
    }
    val expect = new java.sql.Timestamp(micros / 1000)
    expect.setNanos(((micros % 1000000) * 1000).toInt)
    // epoch-nanos BIGINT: sub-microsecond part must truncate, not round
    assert(roundtrip(lit(micros * 1000 + 789L)) === expect)
    // TIMESTAMP_NTZ: wall-clock reinterpreted in the (UTC-pinned) session
    assert(roundtrip(timestamp_micros(lit(micros)).cast(TimestampNTZType)) === expect)
    // plain TIMESTAMP: passes through untouched
    assert(roundtrip(timestamp_micros(lit(micros))) === expect)
    // anything else refuses loudly instead of mis-normalizing silently
    intercept[IllegalStateException] {
      roundtrip(lit("2023-11-14 22:13:20"))
    }
  }

  test("corpus_roundtrip stages land through the range-sorted sink, each readable and monotone") {
    import org.apache.spark.sql.functions.{min, max, sum => fsum}
    val out = graft.sources.Scratch.dir("graft_rt_spec")
    val res = graft.queries.DocQueries.corpusRoundtripTo(spark, sf, out).collect()
    assert(res.nonEmpty)

    // every stage wrote a readable parquet table at the expected path
    val stages = Seq("gate", "dedup", "clean", "sample", "packed")
    val counts = stages.map { st =>
      assert(new java.io.File(s"$out/$st").isDirectory, s"missing stage dir $st")
      st -> spark.read.parquet(s"$out/$st").count()
    }.toMap
    // the survivor ladder only ever narrows
    assert(counts("gate") >= counts("dedup"))
    assert(counts("dedup") >= counts("clean"))
    assert(counts("clean") >= counts("sample"))
    // packing is row-per-surviving-doc over the written sample
    assert(counts("packed") === counts("sample"))

    // the result frame's ladder reconciles with the on-disk stage tables
    assert(res.map(_.getAs[Long]("n_gated")).sum === counts("gate"))
    assert(res.map(_.getAs[Long]("n_sampled")).sum === counts("sample"))

    // the sink layout property the stages rely on: disjoint per-file
    // doc_id ranges (min/max stats prune whole files on any id predicate)
    val files = new java.io.File(s"$out/gate").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
    val ranges = files.flatMap { f =>
      val df = spark.read.parquet(f)
      if (df.isEmpty) None
      else Some(df.agg(min($"doc_id"), max($"doc_id")).as[(Long, Long)].head())
    }
    ranges.sortBy(_._1).sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"gate file ranges not disjoint: $hi1 >= $lo2")
      case _ =>
    }

    // the packing report was answered FROM the written packed artifact:
    // its token volume must equal a fresh recount over the sample stage
    val packedToks = spark.read.parquet(s"$out/packed")
      .agg(fsum($"n_tokens")).as[Long].head()
    val sampleToks = spark.read.parquet(s"$out/sample")
      .select(org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim($"text"), "\\s+"))
        .cast("long").as("n"))
      .agg(fsum($"n")).as[Long].head()
    assert(packedToks === sampleToks)
  }

  test("corpus_roundtrip stage schemas are evolution-stable: a widened corpus rides every hop, a retype refuses") {
    import org.apache.spark.sql.functions.lit
    val docs = graft.sources.Tables.documents(spark, sf)

    // baseline ladder on the unwidened corpus
    val plainOut = graft.sources.Scratch.dir("graft_rt_evo_plain")
    val plain = graft.queries.DocQueries
      .corpusRoundtripFrom(spark, docs, plainOut)
      .orderBy("source").collect().map(_.toSeq).toSeq

    // WIDEN: an extra column on the input corpus (the upstream-added-a-
    // field case). The pipeline's operators are column-pruned and the
    // stage sinks carry whole rows, so the column must ride all four
    // document stages while the ladder/report is IDENTICAL.
    val wideOut = graft.sources.Scratch.dir("graft_rt_evo_wide")
    val wide = graft.queries.DocQueries
      .corpusRoundtripFrom(spark, docs.withColumn("crawl_ts", lit(7L)), wideOut)
      .orderBy("source").collect().map(_.toSeq).toSeq
    assert(wide === plain,
      "a widened input changed the roundtrip report — an operator is not column-pruned")
    for (st <- Seq("gate", "dedup", "clean", "sample")) {
      val sch = spark.read.parquet(s"$wideOut/$st").schema
      assert(sch.fieldNames.contains("crawl_ts"),
        s"stage $st dropped the widened column")
      // and the widened stage is still what the contract calls evolvable
      // FROM the plain stage's schema (pure widening, nothing retyped)
      val added = graft.sources.SchemaEvolution.requireEvolvable(
        spark.read.parquet(s"$plainOut/$st").schema, sch, s"stage $st")
      assert(added.map(_.name) === Seq("crawl_ts"))
    }

    // RETYPE/NARROW: the contract half that must refuse loudly BY NAME —
    // a stage whose doc_id came back retyped, or lost a column, is
    // upstream breakage, never a silent merge
    val gateSchema = spark.read.parquet(s"$plainOut/gate").schema
    val retyped = org.apache.spark.sql.types.StructType(gateSchema.fields.map {
      case f if f.name == "doc_id" => f.copy(dataType =
        org.apache.spark.sql.types.StringType)
      case f => f
    })
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.SchemaEvolution.requireEvolvable(gateSchema, retyped, "stage gate")
    }
    assert(e1.getMessage.contains("doc_id"))
    val narrowed = org.apache.spark.sql.types.StructType(
      gateSchema.fields.filterNot(_.name == "text"))
    val e2 = intercept[IllegalArgumentException] {
      graft.sources.SchemaEvolution.requireEvolvable(gateSchema, narrowed, "stage gate")
    }
    assert(e2.getMessage.contains("text"))
  }
}
