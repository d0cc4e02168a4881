package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Continuous quality gating of a document-arrival stream — the
  * [[graft.ops.TextAnalysis.gopherRules]] suite as a screen in front of
  * the corpus store, the streaming twin of the batch gate (reference
  * behavior: the per-arrival dispatch loop of worker_sync.py:42-108,
  * re-expressed as per-batch set operations over document arrivals).
  *
  * Per micro-batch ([[qualityScreenBatch]] run by [[StateSink.run]]):
  * score every arrived doc, append the full signal +
  * first-fail-reason rows to `reportDir` (batch-tagged — the filter-rate
  * dashboard and ablation log), and append only the keepers to `keptDir`.
  * The rules are per-doc and corpus-independent, so there is NO streaming
  * state and no cross-batch coupling: per-batch cost is batch-sized, and
  * the concatenated outputs over any run equal the batch gate over
  * everything that arrived (spec-pinned). Replay caveat: a batch
  * re-delivered by an at-least-once SOURCE arrives under a new batchId and
  * re-appends its rows — dedupe upstream ([[EventsCdc.dedupStream]]) or
  * use an exactly-once source; ENGINE retries of the same batchId are
  * idempotent (both sinks write through [[StateSink.appendIdempotent]]).
  */
object StreamingQuality {

  /** One micro-batch of the quality screen: score the batch, write the
    * full report to `reportDir` and the keepers to `keptDir`. */
  def qualityScreenBatch(keptDir: String, reportDir: String)
                        (batch: DataFrame, batchId: Long): Unit = {
    // the report feeds two writes (full log + keeper semi-join); persist
    // the batch-sized frame across them. Both sinks write through
    // StateSink: an engine retry of the same batchId replaces its own
    // partition instead of double-appending report rows or keeper docs.
    val report = graft.ops.TextAnalysis.gopherRules(batch).persist()
    try {
      StateSink.appendIdempotent(report, batchId, reportDir)
      StateSink.appendIdempotent(
        batch.join(report.filter(col("keep")).select("doc_id"),
          Seq("doc_id"), "left_semi"),
        batchId, keptDir)
    } finally report.unpersist(blocking = false)
  }
}
