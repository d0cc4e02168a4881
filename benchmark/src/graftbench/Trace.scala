package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer. Times are epoch microseconds so they can be
  * compared with the scheduler's job-start timestamps (epoch millis). */
final class Span(val id: Int, val name: String, val parent: Int,
                 val round: Int, val startUs: Long) {
  var endUs: Long = -1L
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
}

/** In-memory span recorder. With `enabled = false` every call is a plain
  * pass-through, so the untraced run pays nothing for the hooks. */
final class Tracer(val enabled: Boolean) {
  private val baseNanos = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseEpochUs + (System.nanoTime() - baseNanos) / 1000L

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var round: Int = 0

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), round, nowUs)
      spans += s
      stack = s :: stack
      try f
      finally {
        s.endUs = nowUs
        stack = stack.tail
      }
    }

  /** Adds `v` to counter `name` on the span with id `spanId`. */
  def count(spanId: Int, name: String, v: Double): Unit =
    if (enabled) {
      val c = spans(spanId).counters
      c(name) = c.getOrElse(name, 0.0) + v
    }

  /** Id of the most recently opened span named `name` (for counters that
    * are only known after the span closed). */
  def last(name: String): Int = spans.lastIndexWhere(_.name == name)
}

/** Scheduler-level counters: every task's metrics, grouped by the job that
  * ran it. Jobs are attributed to spans after the fact by their submission
  * time (the innermost span open at that instant), which also catches jobs
  * submitted from library-internal threads (broadcasts, concurrent writes). */
final class JobLog extends SparkListener {
  final class Agg {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var output = 0L
    val durMs: ArrayBuffer[Long] = ArrayBuffer.empty
    val stages: mutable.Set[Int] = mutable.Set.empty
  }
  private val jobStartMs = mutable.LinkedHashMap.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobAgg = mutable.Map.empty[Int, Agg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { job =>
      val a = jobAgg.getOrElseUpdate(job, new Agg)
      a.tasks += 1
      a.stages += e.stageId
      a.durMs += e.taskInfo.duration
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Folds every job into the innermost span open at its submission and
    * stores the sums as `spark.*` counters on that span. */
  def attribute(tr: Tracer): Unit = synchronized {
    val perSpan = mutable.Map.empty[Int, ArrayBuffer[Int]]
    for ((job, ms) <- jobStartMs) {
      val us = ms * 1000L
      val open = tr.spans.filter(s => s.startUs <= us && us <= s.endUs)
      if (open.nonEmpty)
        perSpan.getOrElseUpdate(open.maxBy(_.startUs).id, ArrayBuffer.empty) += job
    }
    for ((spanId, jobs) <- perSpan) {
      val aggs = jobs.flatMap(jobAgg.get)
      val durs = aggs.flatMap(_.durMs).sorted
      def put(k: String, v: Double): Unit = tr.spans(spanId).counters(k) = v
      put("spark.jobs", jobs.size.toDouble)
      put("spark.stages", aggs.map(_.stages.size).sum.toDouble)
      put("spark.tasks", aggs.map(_.tasks).sum.toDouble)
      put("spark.exec_run_s", aggs.map(_.runMs).sum / 1e3)
      put("spark.gc_s", aggs.map(_.gcMs).sum / 1e3)
      put("spark.shuffle_read_mb", aggs.map(_.shuffleRead).sum / 1e6)
      put("spark.shuffle_write_mb", aggs.map(_.shuffleWrite).sum / 1e6)
      put("spark.spill_mb", aggs.map(_.spill).sum / 1e6)
      put("spark.output_mb", aggs.map(_.output).sum / 1e6)
      put("spark.task_p50_s", if (durs.isEmpty) 0.0 else durs(durs.size / 2) / 1e3)
      put("spark.task_max_s", if (durs.isEmpty) 0.0 else durs.last / 1e3)
    }
  }
}
