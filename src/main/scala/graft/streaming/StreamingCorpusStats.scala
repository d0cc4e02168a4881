package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous corpus-stats maintenance — the streaming twin of the
  * `token_drift` report: every micro-batch reduces its arrived documents
  * to per-source partials ([[batchPartials]] — doc count, exact token
  * sum, at most one row per source per batch regardless of batch size)
  * appended through [[StateSink.run]]; the drift read
  * ([[driftFromState]]) answers the before/after comparison for ANY batch
  * boundary from state alone — the moving-boundary report the batch
  * operator (which pins its split predicate at plan time) cannot give
  * without rescanning the corpus.
  *
  * Because the partials are longs merging by addition, the served report
  * equals the batch computation over the same split EXACTLY — counts and
  * token sums are integers, each mean is one long/long IEEE division and
  * the ratio one double division (spec-pinned).
  */
object StreamingCorpusStats {

  /** Deterministic batch-tagged partials over a STATIC corpus — the
    * arrival stand-in the `corpus_drift` registry entry and SQL surface
    * share: batch_id = pmod(doc_id, nBatches) (pmod, not %, per the
    * truncate-vs-floor discipline; equal for the non-negative ids the
    * tables carry). Produces exactly the state shape the streaming
    * maintenance keeps (≤ sources × nBatches rows from one corpus scan), so
    * [[driftFromState]] over it IS the serve path — swap in the real
    * maintained state table in production and nothing downstream
    * changes. */
  def taggedPartials(docs: DataFrame, nBatches: Int): DataFrame =
    docs
      .select(col("source"),
        pmod(col("doc_id"), lit(nBatches.toLong)).as("batch_id"),
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))

  /** Reduce one batch of documents to per-source partials. Replay:
    * counts and token sums add, so a redelivered batch counts twice. */
  def batchPartials(batch: DataFrame): DataFrame =
    batch
      .select(col("source"),
        size(graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))

  /** The mixture read: the temperature-flattened training-mixture schedule
    * ([[graft.ops.Sampling.temperatureMixture]]) served from state alone —
    * per-source token partials collapse by long addition (order-free), so
    * served-from-state equals the batch `mixture_schedule` over the same
    * corpus EXACTLY (spec-pinned bit-for-bit). A data loader can re-plan
    * its sampling weights after every arrival batch without ever
    * rescanning the corpus. */
  def mixtureFromState(state: DataFrame,
                       budgetTokens: Double = 1e6): DataFrame =
    graft.ops.Sampling.temperatureMixture(
      state.groupBy(col("source")).agg(sum(col("n_tok")).as("n_tokens")),
      budgetTokens)
      .orderBy(col("source"))

  /** The drift read: old = batches <= `boundary`, new = batches after it —
    * same report shape and arithmetic as the batch `token_drift` entry
    * (absent halves are NULL in mean and ratio; conditional sums carry no
    * ELSE). Cost ∝ state rows (sources × batches), never corpus size. */
  def driftFromState(state: DataFrame, boundary: Long): DataFrame =
    state.groupBy(col("source"))
      .agg(
        sum(when(col("batch_id") <= boundary, col("n_docs"))).as("n_old"),
        sum(when(col("batch_id") > boundary, col("n_docs"))).as("n_new"),
        sum(when(col("batch_id") <= boundary, col("n_tok"))).as("tok_old"),
        sum(when(col("batch_id") > boundary, col("n_tok"))).as("tok_new"))
      .select(col("source"), col("n_old"), col("n_new"),
        col("tok_old"), col("tok_new"),
        (col("tok_old").cast("double") / col("n_old")).as("mean_old"),
        (col("tok_new").cast("double") / col("n_new")).as("mean_new"),
        ((col("tok_new").cast("double") / col("n_new")) /
          (col("tok_old").cast("double") / col("n_old"))).as("drift_ratio"))
      .orderBy(col("source"))
}
