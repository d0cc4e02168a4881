package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The engine's one stream launcher ([[run]]) and the idempotent
  * micro-batch state append ([[appendIdempotent]]) for every step that
  * maintains an additive parquet state table (feature partials, experiment
  * moments, sketch rows, dedup pairs, quality reports).
  *
  * The hazard this closes is ENGINE-retry duplication, which is distinct
  * from the documented at-least-once-source caveat: Spark's micro-batch
  * engine re-runs a failed batch under the SAME batchId, so a blind
  * `.mode("append")` after a partial or complete write appends the same
  * partials again and additive readers silently double-count. Since every
  * such sink already stamps `batch_id` on each row, the fix is structural:
  * write each batch as its own `batch_id=` partition with dynamic
  * partition overwrite — a retry lands on the same partition and REPLACES
  * its own output.
  *
  * Read-path note: `batch_id` becomes a partition column, so partition
  * pruning makes batch-ranged reads (drain, replay audit) metadata-only;
  * readers that merge state ignore it or drop it as before.
  */
object StateSink {

  /** Write one micro-batch's rows into `dir` under its own `batch_id`
    * partition, overwriting that partition only. */
  def appendIdempotent(df: DataFrame, batchId: Long, dir: String): Unit =
    df.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(dir)

  /** The one stream launcher in the engine: every micro-batch of
    * `stream` runs `step(batch, batchId)`, checkpointed under
    * `checkpointDir`. The steps are the engine's per-batch functions —
    * the CDC applies ([[EventsCdc.scd1MergeBatch]], `scd1JdbcBatch`,
    * `scd2MergeBatchSplit`), the standing-index screens
    * ([[IndexMaintenance]], [[StreamingQuality]]) — or, for a partials
    * table, `(b, id) => appendIdempotent(partials(b, id), id, dir)`. No
    * output mode is set: a step sees each micro-batch whole, so the
    * default (append) is all a stateless or watermark-deduped stream
    * needs.
    *
    * Replay rule, for every partials table written through
    * [[appendIdempotent]]:
    *   - An ENGINE retry (the same batchId re-run after a failure)
    *     replaces its own `batch_id=` partition, so it never duplicates.
    *   - A SOURCE redelivery (the same rows under a new batchId) appends
    *     again. Idempotent readers absorb it (HLL union, Bloom bit union);
    *     additive readers count it twice (Misra-Gries, Count-Min,
    *     histogram bins, gram df, DSIR counts, covariance, feature day
    *     partials, arm moments, token stats). Dedupe those upstream with
    *     [[EventsCdc.dedupStream]] or use an exactly-once source.
    */
  def run(stream: DataFrame, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow())
         (step: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(step)
      .start()
}
