package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.JsonEscape

/** Raw observations of one run: timing samples, output checks, attempted
  * and failed operations, and run facts. `run.py` computes the
  * statistics, so this side only records. */
final class Recorder {
  val samples: mutable.LinkedHashMap[String, ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  val checks: ArrayBuffer[(String, Boolean, String)] = ArrayBuffer.empty
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  var error: Option[String] = None

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds per live thread. Thread ids are never reused. */
  private def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(id => id -> threads.getThreadCpuTime(id))
      .filter(_._2 >= 0).toMap

  /** Runs one user-visible operation and returns (result, wall seconds,
    * CPU seconds). The CPU seconds are those of the JVM's application
    * threads (driver, local executors, Spark's own threads) while it ran;
    * the JIT compiler and GC threads are not among them, so compiling or
    * collecting what an earlier operation left behind is not counted
    * against this one. */
  def op[A](f: => A): (A, Double, Double) = {
    attempted += 1
    val c0 = threadCpu()
    val t0 = System.nanoTime()
    val r = f
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = threadCpu().iterator.map { case (id, t) => t - c0.getOrElse(id, 0L) }.sum
    (r, wall, cpu / 1e9)
  }

  /** Records a correctness check; a failed one counts as a failed op. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
  }
}

final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String, out: String)

object Main {
  val Workloads: Seq[String] = Seq("cdc_serve", "curation")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), need("work"), need("out"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = graft.GraftSession.builder(s"graftbench-${a.workload}")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(a.trace)
    val log = new JobLog
    if (a.trace) spark.sparkContext.addSparkListener(log)
    val rec = new Recorder
    rec.info("cores") = spark.sparkContext.defaultParallelism
    // JVM launch to a ready session: start-up cost outside every metric
    rec.info("start_s") = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    rec.info("heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    val t0 = System.nanoTime()
    try {
      val ctx = new Ctx(spark, a, tr, rec)
      a.workload match {
        case "cdc_serve" => new CdcServe(ctx).run()
        case "curation"  => new Curation(ctx).run()
      }
    } catch {
      case NonFatal(e) =>
        rec.failed += 1
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        rec.error = Some(sw.toString)
        System.err.println(sw.toString)
    }
    if (a.trace) {
      org.apache.spark.sql.graft.GraftSqlShim.drainListenerBus(spark)
      log.attribute(tr)
    }
    rec.info("workload_s") = (System.nanoTime() - t0) / 1e9
    rec.info("peak_rss_mb") = peakRssMb()
    val json = toJson(a, rec, tr)
    java.nio.file.Files.write(java.nio.file.Paths.get(a.out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The JVM's resident-set high-water mark (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def value(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int    => n.toString
    case n: Long   => n.toString
    case s         => JsonEscape.str(s.toString)
  }

  private def toJson(a: Args, rec: Recorder, tr: Tracer): String = {
    val sb = new StringBuilder
    sb ++= "{"
    sb ++= s""""workload": ${JsonEscape.str(a.workload)}, "seed": ${a.seed}, """
    sb ++= s""""trace": ${a.trace}, "attempted": ${rec.attempted}, "failed": ${rec.failed},"""
    sb ++= "\n\"samples\": {" + rec.samples.map { case (k, v) =>
      s"${JsonEscape.str(k)}: [${v.map(num).mkString(", ")}]"
    }.mkString(", ") + "},"
    sb ++= "\n\"checks\": [" + rec.checks.map { case (n, ok, d) =>
      s"""{"name": ${JsonEscape.str(n)}, "ok": $ok, "detail": ${JsonEscape.str(d)}}"""
    }.mkString(",\n  ") + "],"
    sb ++= "\n\"info\": {" + rec.info.map { case (k, v) =>
      s"${JsonEscape.str(k)}: ${value(v)}"
    }.mkString(", ") + "},"
    sb ++= "\n\"error\": " + rec.error.fold("null")(JsonEscape.str) + ","
    sb ++= "\n\"spans\": [" + tr.spans.map { s =>
      val c = s.counters.map { case (k, v) => s"${JsonEscape.str(k)}: ${num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "name": ${JsonEscape.str(s.name)}, "parent": ${s.parent}, """ +
        s""""round": ${s.round}, "start_us": ${s.startUs}, "end_us": ${s.endUs}, "counters": {$c}}"""
    }.mkString(",\n  ") + "]}\n"
    sb.toString
  }
}

/** What every workload needs: the session, its arguments, the tracer and
  * the recorder, plus the closed loop. */
final class Ctx(val spark: SparkSession, val a: Args, val tr: Tracer, val rec: Recorder) {
  val rng = new scala.util.Random(a.seed)

  /** Closed loop, one client: runs `round` back to back until `seconds`
    * have passed and at least `minRounds` ran. A traced run instead
    * alternates at least four rounds between the untraced call path (even)
    * and the traced one-by-one path (odd), and samples each round's wall
    * time as `round_untraced` / `round_traced` to give the tracing
    * overhead. */
  def loop(minRounds: Int)(round: (Int, Boolean) => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    val min = if (a.trace) 4 else minRounds
    while (i < min || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val traced = a.trace && i % 2 == 1
      tr.round = i
      val r0 = System.nanoTime()
      round(i, traced)
      if (a.trace)
        rec.sample(if (traced) "round_traced" else "round_untraced", (System.nanoTime() - r0) / 1e9)
      i += 1
    }
    rec.info("rounds") = i
    rec.info("loop_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Set-up, repeated `reps` times; each repetition is one `setup` (wall
    * seconds) and one `setup_cpu` (CPU seconds, as [[Recorder.op]]) sample. */
  def setup(reps: Int)(f: Int => Unit): Unit = {
    for (i <- 0 until reps) {
      val (_, t, c) = rec.op(f(i))
      rec.sample("setup", t)
      rec.sample("setup_cpu", c)
    }
    rec.info("setup_total_s") = rec.samples("setup").sum
  }

  def dir(name: String): String = s"${a.work}/$name"

  /** Heap still in use after a full collection, in MB: what the workload
    * keeps alive (persisted blocks, pinned plans, state) once it is done. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    // Spark's ContextCleaner drops unreachable broadcasts and shuffles
    // asynchronously after a collection; collect again once it has run
    System.gc()
    Thread.sleep(500)
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}
