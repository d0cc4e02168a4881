package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions.col
import graft.ops.{Dedup, Dsir, TextAnalysis}

/** Executes every registry query end-to-end and asserts the run produced
  * ZERO generated-code compile failures.
  *
  * Why this matters: a janino `CompileException` inside
  * `GenerateUnsafeProjection` (e.g. two inlined expression snippets
  * declaring the same local name) does NOT fail the query — Spark logs an
  * ERROR and silently falls back to the interpreted projection. Results stay
  * correct, but the hot loops the native expressions exist for run
  * interpreted and every plan pays a failed-compile round trip. Round 2
  * shipped exactly that bug ("Redefinition of local variable \"i\"" from the
  * ObjectHashAggregate result projection over MinHashSignature/SimHashBits);
  * this spec pins the fix (ctx.freshName for every generated local) against
  * regression.
  */
class CodegenHealthSpec extends SparkSpec {

  /** Captures ERROR-level codegen events; attached to the root logger so
    * any logger under org.apache.spark that reports a compile failure is
    * seen regardless of which class logs it. */
  private class Capture extends AbstractAppender(
      "graft-codegen-capture", null, null, false, Property.EMPTY_ARRAY) {
    val hits = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    override def append(event: LogEvent): Unit = {
      val msg = event.getMessage.getFormattedMessage
      if (event.getLevel.isMoreSpecificThan(Level.ERROR) &&
          (event.getLoggerName.contains("CodeGenerator") ||
           msg.toLowerCase.contains("failed to compile")))
        hits.add(event.getLoggerName + ": " + msg.linesIterator.take(2).mkString(" | "))
    }
  }

  test("capture harness sees ERROR CodeGenerator events (self-test)") {
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    val cap = new Capture
    cap.start()
    root.addAppender(cap)
    try {
      LogManager.getLogger(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
        .error("synthetic: failed to compile (self-test)")
    } finally { root.removeAppender(cap); cap.stop() }
    assert(!cap.hits.isEmpty, "appender did not capture a synthetic compile-failure event")
  }

  test("registry execution produces zero generated-code compile failures") {
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    val cap = new Capture
    cap.start()
    root.addAppender(cap)
    try {
      SparkEntry.registry.foreach { q =>
        // noop sink: materializes every output column, so result projections
        // (where the r2 failure lived) actually compile and run
        q.run(spark, sf).write.format("noop").mode("overwrite").save()
      }
    } finally {
      root.removeAppender(cap)
      cap.stop()
    }
    val hits = cap.hits.toArray(Array.empty[String])
    assert(hits.isEmpty,
      s"generated-code compile failures during registry run:\n${hits.mkString("\n")}")
  }

  // One run of the curation chain holds more distinct generated classes
  // than Spark's default 100-entry codegen cache, so under that default
  // every run recompiles about a hundred of them. GraftSession sizes the
  // cache to hold the run and keeps AQE's timing-dependent stage ids out of
  // the class names; with the ids in, this chain recompiled 64–196 classes
  // on its third run even with the larger cache.
  test("the third of three identical runs of the curation chain compiles no generated class") {
    def chain(): Unit = {
      val docs = graft.sources.Tables.documents(spark, sf)
      val (corpus, bench) =
        (docs.filter(col("doc_id") % 10 =!= 7), docs.filter(col("doc_id") % 10 === 7))
      val gated = corpus.join(
        TextAnalysis.qualityFilter(corpus).filter(col("keep")).select(col("doc_id")), "doc_id")
      val deduped = gated.join(Dedup.minhashLsh(gated).select(col("d2").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val cleaned = deduped.join(Dedup.decontaminate(deduped, bench, n = 8)
        .filter(!col("contaminated")).select(col("doc_id")), "doc_id")
      val sampled = cleaned.join(
        Dsir.resample(cleaned, col("source") === "src0").select(col("doc_id")), "doc_id")
      TextAnalysis.packSequences(sampled, 512).write.format("noop").mode("overwrite").save()
    }
    val runs = Seq.fill(3)(compilesDuring(chain()))
    assert(runs.last == 0, s"generated classes compiled per run: ${runs.mkString(", ")}")
  }
}
