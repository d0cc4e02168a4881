package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.FileFormats

/** Streaming maintenance of the standing ANN index — the arrival path of
  * the IVF lifecycle ([[graft.ops.Ivf.refreshIndex]]) as a continuous
  * pipeline instead of a scheduled batch: each micro-batch of new vectors
  * is absorbed by [[graft.ops.Ivf.appendToIndex]] — assigned to the FROZEN
  * centroids (a broadcast of the tiny centroid table against the batch)
  * and blind-appended to the assigned lists' directories. Per-batch cost
  * is batch-sized; the standing lists never rewrite; no streaming state.
  *
  * The division of labor is deliberate: the STREAM only feeds the index
  * (cheap, per-arrival); the drift decision and re-fit/compaction stay a
  * scheduled [[graft.ops.Ivf.refreshIndex]] batch job — a re-fit inside a
  * micro-batch would stall the stream for an index-sized rebuild.
  *
  * Replay: [[graft.ops.Ivf.appendToIndex]] drops arrivals whose vec_id
  * the lists already hold, so an engine retry of a batch whose append
  * landed, or a source redelivery of the same vectors, adds nothing — a
  * duplicated vector would take two top-k slots in any search whose
  * probe reaches it and count twice in list sizes and drift statistics.
  * A redelivered vec_id carrying a NEW vector is dropped too: the index
  * keeps the first vector it absorbed for an id. */
object IndexMaintenance {

  /** Launch the continuous index-append pipeline over a file-arrival
    * vector stream (each new parquet file = one arrival batch). */
  def runIvfAppend(spark: SparkSession, srcDir: String, schemaFrom: DataFrame,
                   indexDir: String, checkpointDir: String,
                   maxFilesPerTrigger: Int = 0,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    EventsCdc.readEventStream(spark, srcDir, schemaFrom, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // the returned assignments are LRU-persisted for callers that
        // read them; this pipeline doesn't — release through the cache
        // (a bare unpersist would desync the LRU's book-keeping)
        graft.ops.InternalCaches.release(
          graft.ops.Ivf.appendToIndex(spark, indexDir, batch))
        ()
      }
      .start()

  /** Continuous exact-substring screen — the span-level twin of
    * [[runDedupScreen]]: per micro-batch, (1) probe the arrivals against
    * the standing winnowing-fingerprint index and emit their REMOVAL
    * SPANS ([[graft.ops.Dedup.incrementalSpanScreen]] — keep-standing
    * semantics, spans land on arrivals) into a batch-partitioned span
    * table ([[StateSink]] — engine retries replace their own output),
    * then (2) absorb the batch into the index and (3) the corpus store,
    * so the next batch's probe sees it. Concatenated spans over a run of
    * monotone-id arrivals equal the batch
    * [[graft.ops.Dedup.exactSubstrSpans]] over everything, restricted to
    * arrival doc_ids (DedupSpec pins it through the real streaming
    * wiring). Same source-redelivery caveat as the dedup screen. */
  def runSpanScreen(spark: SparkSession, srcDir: String, schemaFrom: DataFrame,
                    indexDir: String, corpusDir: String, spansDir: String,
                    checkpointDir: String, minLen: Int = 8, k: Int = 5,
                    w: Int = 4, maxDf: Int = 16,
                    maxFilesPerTrigger: Int = 0,
                    trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    EventsCdc.readEventStream(spark, srcDir, schemaFrom, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val old = FileFormats.readParquet(spark, corpusDir)
        StateSink.appendIdempotent(
          graft.ops.Dedup.incrementalSpanScreen(spark, indexDir, old, batch,
            minLen, k, w, maxDf),
          batchId, spansDir)
        graft.ops.Dedup.appendFingerprintIndex(batch, indexDir, k, w)
        batch.write.mode("append").parquet(corpusDir)
        ()
      }
      .start()

  /** Continuous directional-containment screening of a document-arrival
    * stream — [[graft.ops.Dedup.incrementalContainmentScreen]] (the
    * quote/excerpt ingest gate) as a pipeline: per micro-batch, (1) PROBE
    * the arrivals against the standing containment index and append the
    * verified (arrival sub, standing super) pairs batch-tagged to
    * `pairsDir` ([[StateSink]] — engine retries of a batchId replace
    * their own partition), then (2) ABSORB the batch into the index
    * ([[graft.ops.Dedup.appendContainmentIndex]] — blind appends to the
    * three additive tables) so the next batch's probe sees it.
    * Concatenated pairs over a run equal the batch
    * [[graft.ops.Dedup.containmentJoin]] over everything arrived,
    * restricted to pairs whose SUB side arrived in a strictly later
    * batch than its SUPER side (within-batch peer overlap is the batch
    * operator's job, not the gate's — see the screen's scaladoc);
    * DedupSpec pins the identity across two absorb cycles. Index appends
    * are replay-tolerant (distinct/max/df-order-only readers); SOURCE-
    * level redelivery still re-emits pairs — dedupe upstream
    * ([[EventsCdc.dedupStream]]) or use an exactly-once source. */
  def runContainmentScreen(spark: SparkSession, srcDir: String,
                           schemaFrom: DataFrame, indexDir: String,
                           pairsDir: String, checkpointDir: String,
                           n: Int = 3, threshold: Double = 0.8,
                           maxFilesPerTrigger: Int = 0,
                           trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    EventsCdc.readEventStream(spark, srcDir, schemaFrom, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StateSink.appendIdempotent(
          graft.ops.Dedup.incrementalContainmentScreen(spark, indexDir,
            batch, n, threshold),
          batchId, pairsDir)
        graft.ops.Dedup.appendContainmentIndex(batch, indexDir, n)
        ()
      }
      .start()

  /** Continuous first-occurrence novelty screening of a document-arrival
    * stream — [[graft.ops.Dedup.incrementalNgramNovelty]] (the
    * content-freshness gate) as a pipeline, the
    * [[runContainmentScreen]] posture: per micro-batch, (1) PROBE the
    * arrivals against the standing novelty index and append their
    * batch-tagged novelty rows (doc_id, distinct/novel gram counts,
    * novelty fraction) to `noveltyDir` ([[StateSink]] — engine retries
    * of a batchId replace their own partition), then (2) ABSORB the
    * batch's distinct gram hashes into the index
    * ([[graft.ops.Dedup.appendNoveltyIndex]] — blind append, reader
    * probes by semi-join so duplicates are inert) so the next batch's
    * probe sees them. Over in-order monotone-id batches the concatenated
    * rows equal the batch [[graft.ops.Dedup.ngramNovelty]] over
    * everything arrived, restricted to arrival doc_ids (the screen's
    * monotone-ingestion identity; DedupSpec pins it through this real
    * streaming wiring, double-append inertness included). SOURCE-level
    * redelivery (same docs, new batchId) re-emits rows and, having
    * already absorbed the docs' grams, scores the replay as zero-novel —
    * dedupe upstream ([[EventsCdc.dedupStream]]) or use an exactly-once
    * source. */
  def runNoveltyScreen(spark: SparkSession, srcDir: String,
                       schemaFrom: DataFrame, indexDir: String,
                       noveltyDir: String, checkpointDir: String,
                       n: Int = 8,
                       maxFilesPerTrigger: Int = 0,
                       trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    EventsCdc.readEventStream(spark, srcDir, schemaFrom, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StateSink.appendIdempotent(
          graft.ops.Dedup.incrementalNgramNovelty(spark, indexDir, batch, n),
          batchId, noveltyDir)
        graft.ops.Dedup.appendNoveltyIndex(batch, indexDir, n)
        ()
      }
      .start()

  /** Streaming source-overlap maintenance — the standing (source, hash128)
    * shingle index kept current by BLIND per-batch appends
    * ([[graft.ops.Dedup.appendSourceShingleIndex]]): the census reader
    * ([[graft.ops.Dedup.sourceOverlapFromIndex]]) dedups sources per hash
    * with `collect_set`, so duplicate rows from engine retries AND
    * source-level redelivery are both absorbed — set union is order-free,
    * making this the only maintenance pipeline with NO redelivery caveat
    * and no [[StateSink]] batch-tagging needed. Served mid-stream or
    * after any prefix of batches, the matrix equals the batch
    * [[graft.ops.Dedup.sourceOverlap]] of everything arrived
    * (DedupSpec pins it through the real streaming wiring, replay
    * included). Per-batch cost ∝ the batch's distinct shingles. */
  def runSourceOverlapMaintenance(spark: SparkSession, srcDir: String,
                                  schemaFrom: DataFrame, indexDir: String,
                                  checkpointDir: String, n: Int = 3,
                                  maxFilesPerTrigger: Int = 0,
                                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    EventsCdc.readEventStream(spark, srcDir, schemaFrom, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.ops.Dedup.appendSourceShingleIndex(batch, indexDir, n)
        ()
      }
      .start()

  /** Continuous near-dup screening of a document-arrival stream against
    * the standing corpus — [[graft.ops.Dedup.incrementalMinhash]] as a
    * pipeline. Per micro-batch, in order:
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
    * The sequencing inside one foreachBatch call is what makes
    * batch-boundary pairs exact: a doc arriving in batch N+1 that
    * near-dups a batch-N doc is found by the index probe (absorbed in
    * step 3 of batch N). The concatenated pairs over any run equal the
    * batch [[graft.ops.Dedup.minhashLsh]] over everything that arrived,
    * minus the bootstrap corpus's internal pairs (found when ITS index
    * was built) — spec-pinned. Retry/replay posture: the PAIRS sink
    * writes through [[StateSink.appendIdempotent]], so an engine retry
    * of the same batchId replaces its own pair partition; the index and
    * corpus appends stay blind (they must mix with the unpartitioned
    * bootstrap layout), but a retry's duplicate rows there are
    * semantically inert — candidate pairs are `distinct()`-ed and
    * shingle sets are per-doc distinct, so emitted pairs are unchanged
    * (only corpus row COUNTS inflate). SOURCE-level redelivery (new
    * batchId, same docs) still re-emits pairs; dedupe upstream
    * ([[EventsCdc.dedupStream]]) or use an exactly-once source. */
  def runDedupScreen(spark: SparkSession, srcDir: String, schemaFrom: DataFrame,
                     indexDir: String, corpusDir: String, pairsDir: String,
                     checkpointDir: String, n: Int = 3, threshold: Double = 0.8,
                     bands: Int = 32, rows: Int = 4, seed: Long = 42L,
                     maxFilesPerTrigger: Int = 0,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    EventsCdc.readEventStream(spark, srcDir, schemaFrom, maxFilesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val old = FileFormats.readParquet(spark, corpusDir)
        StateSink.appendIdempotent(
          graft.ops.Dedup
            .incrementalMinhash(spark, indexDir, old, batch,
              n, threshold, bands, rows, seed),
          batchId, pairsDir)
        graft.ops.Dedup.appendSignatureIndex(batch, indexDir,
          n, bands, rows, seed)
        batch.write.mode("append").parquet(corpusDir)
        ()
      }
      .start()
}
