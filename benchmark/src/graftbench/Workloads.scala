package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.olap.{StarSchema, StarSchemaJob}
import graft.ops.{Dedup, Dsir, InternalCaches, TextAnalysis}
import graft.queries.Exact
import graft.sources.{FileFormats, Tables}
import graft.streaming.EventsCdc

/** Order-independent content digests and the star-level output checks. */
object Digest {
  /** (row count, exact sum of a 64-bit row hash over the columns in name
    * order): equal for two frames holding the same multiset of rows. */
  def of(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold(BigDecimal(0))(BigDecimal(_)))
  }

  /** Runs the check queries concurrently: they are outside the timed
    * region and each is mostly driver latency, so this shortens the run. */
  implicit lazy val ec: ExecutionContext = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(8, (r: Runnable) => {
      val t = new Thread(r, "graftbench-check")
      t.setDaemon(true)
      t
    }))

  def await[A](f: Future[A]): A = Await.result(f, Duration.Inf)

  /** Every table of the written star equals the in-memory build. Returns
    * the in-memory row count per table. */
  def checkStar(ctx: Ctx, built: StarSchemaJob.Star, outDir: String,
                tag: String): Map[String, Long] =
    (built.dims.toSeq :+ ("fact_sales" -> built.factSales)).map { case (name, df) =>
      name -> Future(of(df)).zip(Future(of(ctx.spark.read.parquet(s"$outDir/$name"))))
    }.map { case (name, f) =>
      val (want, got) = await(f)
      ctx.rec.check(s"$tag.$name", got == want,
        s"written (rows, hash) $got != in-memory $want")
      name -> want._1
    }.toMap

  /** Each `status` answer lists the in-memory row count of every table. */
  def checkStatus(ctx: Ctx, want: Map[String, Long], answers: Seq[Seq[Row]]): Unit =
    answers.zipWithIndex.foreach { case (rows, i) =>
      val got = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
      ctx.rec.check(s"status_answer.$i", got == want, s"status $got != in-memory $want")
    }

  def sameRows(got: Seq[Row], want: Seq[Row]): Boolean =
    got.map(_.toSeq.toList.toString).sorted == want.map(_.toSeq.toList.toString).sorted
}

/** Dashboard reads on the written star. */
object Dashboard extends AdaptiveSparkPlanHelper {
  /** Category × year sales over the whole fact. */
  def scan(fact: DataFrame, dimPart: DataFrame): DataFrame =
    fact.join(dimPart.select(col("p_partkey"), col("category")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("category"), year(col("date_key")).as("year"))
      .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("total_sale")).as("sales"))

  /** Daily sales and margin over one month of `date_key`. */
  def pruned(fact: DataFrame, month: java.sql.Date): DataFrame =
    fact.filter(col("date_key") >= lit(month) &&
        col("date_key") < add_months(lit(month), 1))
      .groupBy(col("date_key"))
      .agg(count(lit(1)).as("n_rows"), Exact.dsum(col("total_sale")).as("sales"),
        Exact.dsum(col("margin")).as("margin"))

  /** Files the executed plan's parquet scans actually read. */
  def filesRead(df: DataFrame): Long =
    collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").fold(0L)(_.value)
    }.sum

  def parquetFiles(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }
}

/** The full sync's public functions, called one by one as
  * `StarSchemaJob.run` composes them: builders materialized to a noop
  * sink, each dim write, the public read of the standing fact's schema
  * (what the fact write's gate does), the fact write. Traced runs time it
  * once over the standing star, as a re-sync. */
object TracedFullSync {
  def apply(ctx: Ctx, src: String, star: String): Unit = {
    import ctx._
    tr.span("full_sync") {
      val b = StarSchemaJob.build(spark, src)
      def noop(df: DataFrame): Unit = {
        tr.span("queries.plan")(df.queryExecution.executedPlan)
        df.write.format("noop").mode("overwrite").save()
      }
      tr.span("olap.dims_build")(b.dims.values.foreach(noop))
      tr.span("olap.fact_build")(noop(b.factSales))
      for ((name, df) <- b.dims)
        tr.span("sources.write_dim")(FileFormats.writeDim(df, s"$star/$name"))
      tr.span("sources.fact_open")(spark.read.parquet(s"$star/fact_sales").schema)
      tr.span("sources.write_fact")(FileFormats.writeFact(b.factSales, s"$star/fact_sales"))
    }
    tr.count(tr.last("sources.write_fact"), "files",
      Dashboard.parquetFiles(spark, s"$star/fact_sales").toDouble)
  }
}

/** `cdc_serve`: set-up writes a day-grain star and an SCD1 state once,
  * untimed, then times full re-syncs (`StarSchemaJob.run` into the
  * standing star, the bulk write path). Then rounds of one CDC batch
  * (targeted fact re-sync + SCD1 state merge) followed by three dashboard
  * reads on the star that batch just updated. */
final class CdcServe(ctx: Ctx) {
  import ctx._
  import spark.implicits._
  private val src = a.data
  private val keys = Seq("user_id")

  /** Events in (ts, event_id) order: (ts_us, event_id, is_purchase, user_id). */
  private lazy val stream: IndexedSeq[(Long, Long, Boolean, Long)] =
    Tables.events(spark, src)
      .select(unix_micros(col("ts")), col("event_id"), col("event_type") === "purchase",
        col("user_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toIndexedSeq

  private def events(ids: Seq[Long]): DataFrame =
    Tables.events(spark, src).filter(col("event_id").isin(ids: _*))

  /** The first `k` events of the stream. */
  private def prefix(k: Int): DataFrame = {
    val ev = Tables.events(spark, src)
    if (k >= stream.size) ev
    else {
      val (ts, id, _, _) = stream(k)
      val us = unix_micros(col("ts"))
      ev.filter(us < ts || (us === ts && col("event_id") < id))
    }
  }

  def run(): Unit = {
    val n = stream.size
    var pos = rng.nextInt(n / 4)
    val star = dir("star")
    val state = dir("state")
    StarSchemaJob.run(spark, src, star)
    EventsCdc.scd1MergeBatch(spark, state, keys)(prefix(pos), 0L)
    setup(2)(_ => StarSchemaJob.run(spark, src, star))
    // one month of the star's dates, picked by the seed
    val months = spark.read.parquet(s"$star/dim_date")
      .select(trunc(col("date_key"), "month").as("m")).distinct()
      .collect().map(_.getDate(0)).sortBy(_.getTime)
    val month = months(rng.nextInt(months.length))
    rec.info("month") = month.toString
    if (a.trace) {
      tr.round = -1
      TracedFullSync(ctx, src, star)
    }
    val answers = ArrayBuffer.empty[(String, Seq[Row])]
    var nBatches = 0

    loop(minRounds = 5) { (_, traced) =>
      // one batch: from `pos` up to and including the next 10 purchases
      val ids = ArrayBuffer.empty[Long]
      val buyers = ArrayBuffer.empty[Long]
      while (buyers.size < 10 && pos < n) {
        val (_, id, buy, user) = stream(pos)
        ids += id
        if (buy) buyers += user
        pos += 1
      }
      require(buyers.nonEmpty, "event stream exhausted")
      val changed = buyers.distinct.toSeq.toDF("user_id")
      val batch = events(ids.toSeq)
      val batchId = { nBatches += 1; nBatches.toLong }
      if (traced) tracedRound(star, state, changed, batch, batchId, month, answers)
      else {
        val (_, t, c) = rec.op {
          StarSchemaJob.syncIncremental(spark, src, star, changed)
          EventsCdc.scd1MergeBatch(spark, state, keys)(batch, batchId)
        }
        rec.sample("op", t); rec.sample("op_cpu", c)
        val fact = () => spark.read.parquet(s"$star/fact_sales")
        val (scan, t1, c1) = rec.op(
          Dashboard.scan(fact(), spark.read.parquet(s"$star/dim_part")).collect().toSeq)
        val (pruned, t2, c2) = rec.op(Dashboard.pruned(fact(), month).collect().toSeq)
        val (status, t3, c3) = rec.op(StarSchemaJob.status(spark, star).collect().toSeq)
        rec.sample("scan", t1); rec.sample("pruned", t2); rec.sample("status", t3)
        rec.sample("read", t1 + t2 + t3); rec.sample("read_cpu", c1 + c2 + c3)
        answers += ("scan" -> scan) += ("pruned" -> pruned) += ("status" -> status)
      }
      if (traced) {
        // counters known only after the round: partitions and useful rows
        val orders = Tables.orders(spark, src)
        val hit = orders.join(broadcast(changed), col("o_custkey") === col("user_id"), "left_semi")
        val dates = hit.select(to_date(col("o_orderdate"))).distinct().count()
        val useful = Tables.lineitem(spark, src)
          .join(hit, col("l_orderkey") === col("o_orderkey"), "left_semi").count()
        val sid = tr.last("olap.sync_incremental")
        tr.count(sid, "partitions_rewritten", dates.toDouble)
        tr.count(sid, "useful_rows", useful.toDouble)
      }
    }

    rec.info("retained_heap_mb") = retainedHeapMb()
    val c0 = System.nanoTime()
    val build = StarSchemaJob.build(spark, src)
    val built = build.copy(factSales = build.factSales.persist())
    import Digest.{await, ec}
    val versions = new java.io.File(state).list().filter(_.startsWith("v=")).map(_.drop(2).toLong)
    val scd1 = Future(Digest.of(spark.read.parquet(s"$state/v=${versions.max}"))).zip(
      Future(Digest.of(StarSchema.scd1Latest(prefix(pos), keys,
        Seq(col("ts").desc, col("event_id").desc)))))
    val wantScanF = Future(Dashboard.scan(built.factSales, built.dimPart).collect().toSeq)
    val wantPrunedF = Future(Dashboard.pruned(built.factSales, month).collect().toSeq)
    val counts = Digest.checkStar(ctx, built, star, "star_after_cdc_equals_rebuild")
    val (got, want) = await(scd1)
    rec.check("scd1_state_equals_scd1Latest", got == want,
      s"state $got != scd1Latest $want")
    val wantScan = await(wantScanF)
    val wantPruned = await(wantPrunedF)
    answers.zipWithIndex.foreach {
      case (("scan", rows), j) =>
        rec.check(s"scan_answer.$j", Digest.sameRows(rows, wantScan), "scan differs from in-memory star")
      case (("pruned", rows), j) =>
        rec.check(s"pruned_answer.$j", Digest.sameRows(rows, wantPruned), "pruned differs from in-memory star")
      case _ =>
    }
    Digest.checkStatus(ctx, counts, answers.collect { case ("status", r) => r }.toSeq)
    built.factSales.unpersist()
    rec.info("checks_s") = (System.nanoTime() - c0) / 1e9
  }

  private def tracedRound(star: String, state: String, changed: DataFrame,
                          batch: DataFrame, batchId: Long, month: java.sql.Date,
                          answers: ArrayBuffer[(String, Seq[Row])]): Unit =
    tr.span("cdc_serve.round") {
      tr.span("sources.fact_open")(spark.read.parquet(s"$star/fact_sales").schema)
      val rows = tr.span("olap.sync_incremental")(
        StarSchemaJob.syncIncremental(spark, src, star, changed))
      tr.count(tr.last("olap.sync_incremental"), "rows_rewritten", rows.toDouble)
      tr.span("streaming.scd1_merge")(
        EventsCdc.scd1MergeBatch(spark, state, keys)(batch, batchId))
      def read(name: String)(df: DataFrame): Seq[Row] = tr.span(name) {
        tr.span("queries.plan")(df.queryExecution.executedPlan)
        df.collect().toSeq
      }
      answers += ("scan" -> read("queries.scan")(Dashboard.scan(
        spark.read.parquet(s"$star/fact_sales"), spark.read.parquet(s"$star/dim_part"))))
      val prunedDf = Dashboard.pruned(spark.read.parquet(s"$star/fact_sales"), month)
      answers += ("pruned" -> read("queries.pruned")(prunedDf))
      val pid = tr.last("queries.pruned")
      tr.count(pid, "read_files", Dashboard.filesRead(prunedDf).toDouble)
      tr.count(pid, "total_files",
        Dashboard.parquetFiles(spark, s"$star/fact_sales").toDouble)
      answers += ("status" -> tr.span("olap.status")(
        StarSchemaJob.status(spark, star).collect().toSeq))
    }
}

/** `curation`: quality gate → minhash dedup → decontaminate → DSIR
  * resample → sequence packing, each stage written through the
  * range-sorted sink and read back (the corpus_roundtrip shape), then the
  * survivor-ladder read over the written stages. */
final class Curation(ctx: Ctx) {
  import ctx._
  import spark.implicits._

  /** The held-out residue (doc_id % 10) and the DSIR target source. */
  val residue: Int = (a.seed % 10).toInt.abs
  val target: String = s"src${(a.seed / 10 % 20).abs}"

  final case class Stages(corpus: DataFrame, gated: DataFrame, deduped: DataFrame,
                          cleaned: DataFrame, packed: DataFrame)

  def run(): Unit = {
    rec.info("residue") = residue
    rec.info("target") = target
    val raw = dir("raw")
    setup(9)(_ => FileFormats.writeRangeSorted(Tables.documents(spark, a.data), raw, "doc_id", 8))
    val out = dir("stages")
    // The in-memory chain is the checks' reference. Run before the timed
    // loop it is also the warm-up: it runs every operator of a pass, and
    // the set-up repetitions ran the sink.
    val r0 = System.nanoTime()
    val want = ladder(inMemory(spark.read.parquet(raw))).collect().toSeq
    rec.sample("reference", (System.nanoTime() - r0) / 1e9)
    def storageMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    val baseMb = storageMb
    val answers = ArrayBuffer.empty[Seq[Row]]
    loop(minRounds = 1) { (_, traced) =>
      if (traced) tr.span("curation.round") {
        val st = pass(raw, out, traced = true)
        val rows = tr.span("queries.ladder")(ladder(st).collect().toSeq)
        answers += rows
        val id = tr.last("curation.round")
        for ((k, c) <- Seq("n_gated" -> 2, "n_deduped" -> 3, "n_clean" -> 4, "n_sampled" -> 5))
          tr.count(id, k, rows.map(_.getLong(c)).sum.toDouble)
        tr.count(id, "pins_live", InternalCaches.size.toDouble)
        tr.count(id, "cached_mb", storageMb - baseMb)
      } else {
        val (st, t, c) = rec.op(pass(raw, out, traced = false))
        rec.sample("op", t); rec.sample("op_cpu", c)
        // five readers of the written ladder: a read takes ~1 s, so one
        // sample a pass left its median at the mercy of host noise
        for (_ <- 0 until 5) {
          val (rows, t2, c2) = rec.op(ladder(st).collect().toSeq)
          rec.sample("read", t2); rec.sample("read_cpu", c2)
          answers += rows
        }
      }
    }
    rec.info("retained_heap_mb") = retainedHeapMb()
    val c0 = System.nanoTime()
    answers.zipWithIndex.foreach { case (rows, j) =>
      rec.check(s"ladder_equals_in_memory.$j", Digest.sameRows(rows, want),
        s"ladder ${rows.mkString(";")} != in-memory ${want.mkString(";")}")
    }
    // seed-selected residue 0 and target src0 are the registry entry's own
    // parameters: the ladder must then equal corpus_roundtrip's answer
    if (residue == 0 && target == "src0") {
      val reg = graft.SparkEntry.queries("corpus_roundtrip")(spark, a.data).collect().toSeq
      rec.check("ladder_equals_corpus_roundtrip", Digest.sameRows(answers.head, reg),
        s"ladder != corpus_roundtrip ${reg.mkString(";")}")
    }
    rec.info("checks_s") = (System.nanoTime() - c0) / 1e9
  }

  private def split(docs: DataFrame): (DataFrame, DataFrame) =
    (docs.filter($"doc_id" % 10 =!= residue), docs.filter($"doc_id" % 10 === residue))

  /** One pass over the staged corpus; every stage lands through the sink.
    * A stage's output is persisted while it is written (the range sink
    * samples its input before writing it) and released right after. */
  def pass(raw: String, out: String, traced: Boolean): Stages = {
    val (corpus, bench) = split(spark.read.parquet(raw))
    def stage(op: String, name: String)(ids: DataFrame)(
        rows: DataFrame => DataFrame): DataFrame = {
      val c = ids.persist()
      def write(): Unit = FileFormats.writeRangeSorted(rows(c), s"$out/$name", "doc_id", 8)
      try {
        if (traced) {
          tr.span(op) {
            tr.span("queries.plan")(c.queryExecution.executedPlan)
            c.count()
          }
          tr.span("sources.write_range_sorted")(write())
        } else write()
      } finally c.unpersist(blocking = false)
      spark.read.parquet(s"$out/$name")
    }
    val gated = stage("ops.quality_filter", "gate")(
      TextAnalysis.qualityFilter(corpus).filter($"keep").select($"doc_id"))(
      keep => corpus.join(keep, "doc_id"))
    val deduped = stage("ops.minhash_lsh", "dedup")(
      Dedup.minhashLsh(gated).select($"d2".as("doc_id")).distinct())(
      dup => gated.join(dup, Seq("doc_id"), "left_anti"))
    val cleaned = stage("ops.decontaminate", "clean")(
      Dedup.decontaminate(deduped, bench, n = 8).filter(!$"contaminated").select($"doc_id"))(
      ids => deduped.join(ids, "doc_id"))
    val sampled = stage("ops.dsir_resample", "sample")(
      Dsir.resample(cleaned, $"source" === target).select($"doc_id"))(
      ids => cleaned.join(ids, "doc_id"))
    val packed = stage("ops.pack_sequences", "packed")(
      TextAnalysis.packSequences(sampled, 512))(identity)
    Stages(corpus, gated, deduped, cleaned, packed)
  }

  /** The same chain with no sink and no read-back. Each stage is
    * materialized in executor memory with its lineage cut
    * (`localCheckpoint`); left lazy, every later stage and the ladder
    * re-derive the whole chain, which costs several passes. */
  def inMemory(docs: DataFrame): Stages = {
    val (corpus, bench) = split(docs)
    val gated = corpus.join(
      TextAnalysis.qualityFilter(corpus).filter($"keep").select($"doc_id"), "doc_id")
      .localCheckpoint()
    val deduped = gated.join(Dedup.minhashLsh(gated).select($"d2".as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti").localCheckpoint()
    val cleaned = deduped.join(Dedup.decontaminate(deduped, bench, n = 8)
      .filter(!$"contaminated").select($"doc_id"), "doc_id").localCheckpoint()
    val sampled = cleaned.join(
      Dsir.resample(cleaned, $"source" === target).select($"doc_id"), "doc_id")
    Stages(corpus, gated, deduped, cleaned, TextAnalysis.packSequences(sampled, 512).localCheckpoint())
  }

  /** Per-source survivor ladder and packing report, in the column layout
    * of the `corpus_roundtrip` registry entry. */
  def ladder(s: Stages): DataFrame = {
    def cnt(df: DataFrame, as: String) = df.groupBy($"source").agg(count(lit(1)).as(as))
    val pk = s.packed.groupBy($"shard".as("source"))
      .agg(count(lit(1)).as("n_sampled"), sum($"n_tokens").as("toks"),
        sum(when($"spans_boundary", 1L).otherwise(0L)).as("nb"))
    s.corpus.select($"source").distinct()
      .join(cnt(s.corpus, "n_raw"), Seq("source"))
      .join(cnt(s.gated, "n_gated"), Seq("source"), "left")
      .join(cnt(s.deduped, "n_deduped"), Seq("source"), "left")
      .join(cnt(s.cleaned, "n_clean"), Seq("source"), "left")
      .join(pk, Seq("source"), "left")
      .select($"source", $"n_raw",
        coalesce($"n_gated", lit(0L)).as("n_gated"),
        coalesce($"n_deduped", lit(0L)).as("n_deduped"),
        coalesce($"n_clean", lit(0L)).as("n_clean"),
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        coalesce($"toks", lit(0L)).as("total_tokens"),
        coalesce($"nb", lit(0L)).as("n_boundary_docs"))
      .withColumn("n_sequences", expr("(total_tokens + 511) div 512"))
      .withColumn("padding_tokens", $"n_sequences" * 512L - $"total_tokens")
      .withColumn("efficiency", when($"total_tokens" > 0,
        $"total_tokens".cast("double") / ($"n_sequences" * 512L)))
      .orderBy("source")
  }
}
