package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Idempotent micro-batch state appends for every foreachBatch sink that
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

  /** The one streaming runner for a partials table: every micro-batch of
    * `stream` is reduced by `partials(batch, batchId)` and written through
    * [[appendIdempotent]] into `dir`. No read-modify-write and no
    * streaming state — readers merge the partitions.
    *
    * Replay rule, for every table this runner maintains:
    *   - An ENGINE retry (the same batchId re-run after a failure)
    *     replaces its own `batch_id=` partition, so it never duplicates.
    *   - A SOURCE redelivery (the same rows under a new batchId) appends
    *     again. Idempotent readers absorb it (HLL union, Bloom bit union);
    *     additive readers count it twice (Misra-Gries, Count-Min,
    *     histogram bins, gram df, DSIR counts, covariance, feature day
    *     partials, arm moments, token stats). Dedupe those upstream with
    *     [[EventsCdc.dedupStream]] or use an exactly-once source.
    */
  def run(stream: DataFrame, dir: String, checkpointDir: String,
          trigger: Trigger = Trigger.AvailableNow())
         (partials: (DataFrame, Long) => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendIdempotent(partials(batch, batchId), batchId, dir)
        ()
      }
      .start()
}
