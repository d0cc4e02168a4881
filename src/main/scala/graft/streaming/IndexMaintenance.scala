package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import graft.sources.FileFormats

/** Streaming maintenance of the standing indexes: per-batch steps for
  * [[StateSink.run]], each the arrival path of a batch operator as a
  * continuous pipeline instead of a scheduled job. The screens share one
  * shape — PROBE the arrivals against the standing index, EMIT the
  * batch's findings through [[StateSink.appendIdempotent]], ABSORB the
  * batch into the index so the next batch's probe sees it — with
  * per-batch cost batch-sized and no streaming state. A pipeline is the
  * step behind a file-arrival stream:
  * {{{
  * StateSink.run(EventsCdc.readEventStream(spark, srcDir, schemaFrom), checkpointDir)(
  *   IndexMaintenance.dedupScreenBatch(spark, indexDir, corpusDir, pairsDir))
  * }}}
  *
  * Engine retry: Spark re-runs an uncommitted batch under the same
  * batchId, after its absorb may already have landed. Each step's scaladoc
  * states what that retry leaves behind. */
object IndexMaintenance {

  /** Absorb one batch of new vectors into the standing ANN index — the
    * arrival path of the IVF lifecycle ([[graft.ops.Ivf.refreshIndex]]):
    * [[graft.ops.Ivf.appendToIndex]] assigns them to the FROZEN centroids
    * (a broadcast of the tiny centroid table against the batch) and
    * blind-appends them to the assigned lists' directories. The standing
    * lists never rewrite. The division of labor is deliberate: the stream
    * only feeds the index; the drift decision and re-fit/compaction stay a
    * scheduled [[graft.ops.Ivf.refreshIndex]] batch job — a re-fit inside
    * a micro-batch would stall the stream for an index-sized rebuild.
    *
    * Replay: [[graft.ops.Ivf.appendToIndex]] drops arrivals whose vec_id
    * the lists already hold, so an engine retry of a batch whose append
    * landed, or a source redelivery of the same vectors, adds nothing — a
    * duplicated vector would take two top-k slots in any search whose
    * probe reaches it and count twice in list sizes and drift statistics.
    * A redelivered vec_id carrying a NEW vector is dropped too: the index
    * keeps the first vector it absorbed for an id. */
  def ivfAppendBatch(spark: SparkSession, indexDir: String)
                    (batch: DataFrame, batchId: Long): Unit =
    // the returned assignments are LRU-persisted for callers that read
    // them; this step doesn't — release through the cache (a bare
    // unpersist would desync the LRU's book-keeping)
    graft.ops.InternalCaches.release(
      graft.ops.Ivf.appendToIndex(spark, indexDir, batch))

  /** Exact-substring screen — the span-level twin of [[dedupScreenBatch]]:
    * (1) probe the arrivals against the standing winnowing-fingerprint
    * index and emit their REMOVAL SPANS
    * ([[graft.ops.Dedup.incrementalSpanScreen]] — keep-standing
    * semantics, spans land on arrivals) into the batch-partitioned span
    * table, then (2) absorb the batch into the index and (3) the corpus
    * store, appending only the docs the store lacks, so the next batch's
    * probe sees it. Concatenated spans over a run of monotone-id arrivals
    * equal the batch [[graft.ops.Dedup.exactSubstrSpans]] over everything,
    * restricted to arrival doc_ids (DedupSpec pins it through the real
    * streaming wiring, and that an engine retry of a batch leaves every
    * emitted span unchanged and stores each doc once). Same
    * source-redelivery caveat as the dedup screen. */
  def spanScreenBatch(spark: SparkSession, indexDir: String, corpusDir: String,
                      spansDir: String, minLen: Int = 8, k: Int = 5,
                      w: Int = 4, maxDf: Int = 16)
                     (batch: DataFrame, batchId: Long): Unit = {
    val corpus = FileFormats.readParquet(spark, corpusDir)
    StateSink.appendIdempotent(
      graft.ops.Dedup.incrementalSpanScreen(spark, indexDir,
        corpus, batch, minLen, k, w, maxDf),
      batchId, spansDir)
    graft.ops.Dedup.appendFingerprintIndex(batch, indexDir, k, w)
    appendMissingDocs(corpus, batch, corpusDir)
  }

  /** Directional-containment screening —
    * [[graft.ops.Dedup.incrementalContainmentScreen]] (the quote/excerpt
    * ingest gate) as a step: (1) PROBE the arrivals against the standing
    * containment index and append the verified (arrival sub, standing
    * super) pairs to `pairsDir`, then (2) ABSORB the batch into the index
    * ([[graft.ops.Dedup.appendContainmentIndex]] — blind appends to the
    * three additive tables) so the next batch's probe sees it.
    * Concatenated pairs over a run equal the batch
    * [[graft.ops.Dedup.containmentJoin]] over everything arrived,
    * restricted to pairs whose SUB side arrived in a strictly later
    * batch than its SUPER side (within-batch peer overlap is the batch
    * operator's job, not the gate's — see the screen's scaladoc);
    * DedupSpec pins the identity across two absorb cycles. An engine
    * retry re-emits the same pairs: the probe never reads the arrivals'
    * own index rows, and the index appends are replay-tolerant
    * (distinct/max/df-order-only readers). SOURCE-level redelivery still
    * re-emits pairs — dedupe upstream ([[EventsCdc.dedupStream]]) or use
    * an exactly-once source. */
  def containmentScreenBatch(spark: SparkSession, indexDir: String,
                             pairsDir: String, n: Int = 3,
                             threshold: Double = 0.8)
                            (batch: DataFrame, batchId: Long): Unit = {
    StateSink.appendIdempotent(
      graft.ops.Dedup.incrementalContainmentScreen(spark, indexDir,
        batch, n, threshold),
      batchId, pairsDir)
    graft.ops.Dedup.appendContainmentIndex(batch, indexDir, n)
  }

  /** First-occurrence novelty screening —
    * [[graft.ops.Dedup.incrementalNgramNovelty]] (the content-freshness
    * gate) as a step, the [[containmentScreenBatch]] posture: (1) PROBE
    * the arrivals against the standing novelty index and append their
    * novelty rows (doc_id, distinct/novel gram counts, novelty fraction)
    * to `noveltyDir`, then (2) ABSORB the batch's distinct gram hashes
    * into the index ([[graft.ops.Dedup.appendNoveltyIndex]] — blind
    * append, reader probes by semi-join so duplicates are inert) so the
    * next batch's probe sees them. Over in-order monotone-id batches the
    * concatenated rows equal the batch [[graft.ops.Dedup.ngramNovelty]]
    * over everything arrived, restricted to arrival doc_ids (the screen's
    * monotone-ingestion identity; DedupSpec pins it through the real
    * streaming wiring).
    *
    * Replay is NOT idempotent: the index is hash-only, so it cannot tell
    * the batch's own grams from earlier docs' grams. An engine retry of a
    * batch whose absorb landed re-scores every arrival against its own
    * grams — all zero-novel — and replaces the batch's correct rows
    * (DedupSpec pins this divergence); a source redelivery (same docs,
    * new batchId) appends zero-novel rows the same way. Dedupe upstream
    * ([[EventsCdc.dedupStream]]) or use an exactly-once source; the
    * retry needs an index that records each gram's first doc. */
  def noveltyScreenBatch(spark: SparkSession, indexDir: String,
                         noveltyDir: String, n: Int = 8)
                        (batch: DataFrame, batchId: Long): Unit = {
    StateSink.appendIdempotent(
      graft.ops.Dedup.incrementalNgramNovelty(spark, indexDir, batch, n),
      batchId, noveltyDir)
    graft.ops.Dedup.appendNoveltyIndex(batch, indexDir, n)
  }

  /** Source-overlap maintenance — the standing (source, hash128) shingle
    * index kept current by BLIND per-batch appends
    * ([[graft.ops.Dedup.appendSourceShingleIndex]]): the census reader
    * ([[graft.ops.Dedup.sourceOverlapFromIndex]]) dedups sources per hash
    * with `collect_set`, so duplicate rows from engine retries AND
    * source-level redelivery are both absorbed — set union is order-free,
    * making this the only maintenance step with NO redelivery caveat and
    * no batch-tagging needed. Served mid-stream or after any prefix of
    * batches, the matrix equals the batch [[graft.ops.Dedup.sourceOverlap]]
    * of everything arrived (DedupSpec pins it through the real streaming
    * wiring, replay included). Per-batch cost ∝ the batch's distinct
    * shingles. */
  def sourceOverlapBatch(indexDir: String, n: Int = 3)
                        (batch: DataFrame, batchId: Long): Unit =
    graft.ops.Dedup.appendSourceShingleIndex(batch, indexDir, n)

  /** Near-dup screening of a document-arrival stream against the
    * standing corpus — [[graft.ops.Dedup.incrementalMinhash]] as a step.
    * In order:
    *
    *   1. PROBE: the batch's LSH band rows (broadcast — arrival batches
    *      are small by construction) join the persisted signature index;
    *      candidate pairs verify by exact Jaccard with old-corpus text
    *      read through the semi-join prune — per-batch cost ∝ batch +
    *      candidates, never corpus.
    *   2. EMIT: verified near-dup pairs append to `pairsDir`, batch-tagged
    *      — the audit log a curation pipeline filters against.
    *   3. ABSORB: the batch's band rows append to the index and its docs
    *      to the corpus store, so the NEXT batch's old↔new probe sees
    *      this one as corpus.
    *
    * The sequencing inside one step is what makes batch-boundary pairs
    * exact: a doc arriving in batch N+1 that near-dups a batch-N doc is
    * found by the index probe (absorbed in step 3 of batch N). The
    * concatenated pairs over any run equal the batch
    * [[graft.ops.Dedup.minhashLsh]] over everything that arrived, minus
    * the bootstrap corpus's internal pairs (found when ITS index was
    * built) — spec-pinned.
    *
    * Engine retry: the re-run finds its own docs already absorbed. The
    * probe reads the corpus WITHOUT the batch's doc_ids (a broadcast
    * anti-join) — else the verification would shingle each arrival twice
    * and count its intersections 4× against 2× sizes — and the corpus
    * absorb appends only the docs the store lacks, so later batches never
    * verify against a doubled doc. The index append stays blind (its rows
    * mix with the unpartitioned bootstrap layout); duplicate band rows
    * are inert, since the probe `distinct()`s its candidate pairs. The
    * re-run therefore rewrites its pair partition with the same pairs
    * (spec-pinned). SOURCE-level redelivery (new batchId, same docs)
    * still re-emits pairs; dedupe upstream ([[EventsCdc.dedupStream]]) or
    * use an exactly-once source. */
  def dedupScreenBatch(spark: SparkSession, indexDir: String, corpusDir: String,
                       pairsDir: String, n: Int = 3, threshold: Double = 0.8,
                       bands: Int = 32, rows: Int = 4, seed: Long = 42L)
                      (batch: DataFrame, batchId: Long): Unit = {
    val corpus = FileFormats.readParquet(spark, corpusDir)
    val arrived = broadcast(batch.select(col("doc_id")))
    StateSink.appendIdempotent(
      graft.ops.Dedup.incrementalMinhash(spark, indexDir,
        corpus.join(arrived, Seq("doc_id"), "left_anti"), batch,
        n, threshold, bands, rows, seed),
      batchId, pairsDir)
    graft.ops.Dedup.appendSignatureIndex(batch, indexDir, n, bands, rows, seed)
    appendMissingDocs(corpus, batch, corpusDir)
  }

  /** The corpus absorb of the screens that keep a corpus store: append
    * the batch docs `corpus` (the store as the step read it) lacks, so an
    * engine retry of a batch whose absorb landed stores nothing twice.
    * The corpus ids stream past the broadcast batch ids, so only the
    * batch-sized set of already-stored ids meets the batch. */
  private def appendMissingDocs(corpus: DataFrame, batch: DataFrame,
                                corpusDir: String): Unit = {
    val arrived = broadcast(batch.select(col("doc_id")))
    batch.join(corpus.select(col("doc_id")).join(arrived, Seq("doc_id"), "left_semi"),
        Seq("doc_id"), "left_anti")
      .write.mode("append").parquet(corpusDir)
  }
}
