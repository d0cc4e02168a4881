package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Jdbc

/** The LISTEN/NOTIFY transport shim — the last reference-surface delta
  * (worker_sync.py:42-58 LISTENs on `<table>_sync` channels and dispatches
  * each NOTIFY payload to the sync script; VERDICT "What's missing" #1).
  *
  * Spark has no LISTEN source, and the notification itself carries no row
  * data — it is a doorbell. The shim is therefore a DRIVER-SIDE relay
  * loop, deliberately tiny: poll a pg_notify-style relay relation over
  * plain JDBC, fetch the notified OLTP rows by key
  * ([[graft.sources.Jdbc.readChanged]] — the keys ride the remote WHERE),
  * and append them as ONE arrival parquet file into the directory the
  * SCD1 worker watches (the composition in [[EventsCdc.scd1MergeBatch]]'s
  * scaladoc). Each relayed file plays a NOTIFY delivery; everything
  * downstream (exactly-once dedup, tombstone-aware SCD1 merge) is the
  * already-verified worker pipeline.
  *
  * The relay relation emulates the channel: `(notify_id BIGINT
  * monotonic, channel VARCHAR, payload VARCHAR)`, payload `op:id` —
  * exactly the `notify.channel` / `operacion:id_registro` pair the
  * reference parses (worker_sync.py:85-91). On a real Postgres a
  * `pg_notify`-ing trigger pairs with an insert into this relation (the
  * standard durable-NOTIFY pattern — NOTIFY alone is lossy across
  * disconnects, which is also why the poll needs no LISTEN privileges);
  * in specs DuckDB serves the same relation over the same JDBC driver.
  * The high-water mark (`afterId`) makes the poll incremental and
  * restart-safe: re-polling from an old mark re-appends rows the worker's
  * dedup absorbs (at-least-once, like NOTIFY redelivery itself).
  */
object NotifyShim {

  /** Channel suffix → the OLTP table it announces (worker_sync.py:86:
    * `tabla = canal.replace('_sync', '')`). */
  private[streaming] def tableOf(channel: String): String =
    channel.stripSuffix("_sync")

  /** New notifications past the high-water mark, oldest first. The
    * predicate and projection ride the remote SQL (dbtable subquery), so
    * a poll moves only the undelivered doorbells, never the backlog. */
  def fetchNew(spark: SparkSession, conn: Jdbc.ConnInfo, notifyTable: String,
               afterId: Long): DataFrame =
    spark.read.format("jdbc")
      .option("url", conn.url).option("user", conn.user)
      .option("password", conn.password).option("driver", conn.driver)
      .option("dbtable",
        s"(SELECT notify_id, channel, payload FROM $notifyTable " +
          s"WHERE notify_id > $afterId) AS n")
      .load()

  /** The worker_sync.py:85-91 payload parse, set-oriented: `op:id` splits
    * at the FIRST colon; a payload with no colon (or a non-numeric id)
    * keeps op='unknown' and a NULL key — relayed nowhere, exactly the
    * reference's no-`--id` dispatch. */
  private[streaming] def parsed(notifications: DataFrame): DataFrame =
    notifications.select(
      // JDBC drivers differ on integer width mapping (DuckDB can surface
      // BIGINT as DECIMAL through a subquery) — normalize to long here
      col("notify_id").cast("long").as("notify_id"),
      regexp_replace(col("channel"), "_sync$", "").as("table_name"),
      when(col("payload").contains(":"),
          regexp_extract(col("payload"), "^([^:]*):", 1))
        .otherwise(lit("unknown")).as("op"),
      // try_cast, not cast: a malformed id must yield the reference's
      // no-id dispatch (NULL key), not an ANSI cast error in the relay
      expr("try_cast(CASE WHEN contains(payload, ':') THEN " +
        "substring(payload, instr(payload, ':') + 1) " +
        "ELSE payload END AS BIGINT)").as("key"))

  /** One relay step: drain notifications with `notify_id > afterId`,
    * fetch the announced `eventsTable` rows by key over JDBC, append them
    * as one arrival file under `arrivalsDir`, and return the new
    * high-water mark (`afterId` when nothing arrived — nothing is
    * written, so an idle poll costs one remote round trip and no files).
    *
    * Notification volume is doorbell-sized (ids + short payloads), so the
    * driver-side collect here is bounded by the poll interval's change
    * rate — the same budget the reference's per-NOTIFY subprocess pays,
    * minus the per-row process spawn. Deletes need no special case: this
    * repo's OLTP change feed is the append-only `events` log, where a
    * delete is itself a row (event_type tombstone) that the worker's
    * `deleteWhen` merge interprets. */
  def relayOnce(spark: SparkSession, conn: Jdbc.ConnInfo, notifyTable: String,
                eventsTable: String, arrivalsDir: String,
                afterId: Long,
                schemaFrom: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    val batch = parsed(fetchNew(spark, conn, notifyTable, afterId))
      .select(col("notify_id"), col("table_name"), col("key"))
      .collect()
    if (batch.isEmpty) afterId
    else {
      val keys = batch.filter(r => r.getString(1) == eventsTable && !r.isNullAt(2))
        .map(_.getLong(2)).distinct.toSeq
      if (keys.nonEmpty) {
        val fetched = Jdbc.readChanged(spark, conn, eventsTable, "event_id", keys)
        // conform to the stream's expected schema: JDBC drivers widen
        // integer types (BIGINT can surface as DECIMAL(20,0)), and a
        // widened arrival file would fail the worker's parquet stream
        // read — cast each column to the watched schema's type
        val conformed = schemaFrom.fold(fetched) { st =>
          fetched.select(st.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
        }
        conformed.write.mode("append").parquet(arrivalsDir)
      }
      batch.map(_.getLong(0)).max
    }
  }

  /** The reference worker's outer loop (worker_sync.py:69-107): poll every
    * `pollMillis`, heartbeat a `worker_status.json`-shaped file each pass
    * (worker_sync.py:60-66), stop after `maxPolls` passes (a spec runs 2-3;
    * a deployment passes Int.MaxValue and dies with the process, like the
    * reference's signal-handled `running` flag). Returns the final
    * high-water mark so a restart resumes where it stopped. */
  def listenLoop(spark: SparkSession, conn: Jdbc.ConnInfo, notifyTable: String,
                 eventsTable: String, arrivalsDir: String,
                 afterId: Long = 0L, pollMillis: Long = 5000L,
                 maxPolls: Int = Int.MaxValue,
                 statusFile: Option[java.nio.file.Path] = None,
                 schemaFrom: Option[org.apache.spark.sql.types.StructType] = None): Long = {
    var mark = afterId
    var polls = 0
    while (polls < maxPolls) {
      mark = relayOnce(spark, conn, notifyTable, eventsTable, arrivalsDir, mark,
        schemaFrom)
      statusFile.foreach { p =>
        java.nio.file.Files.write(p,
          s"""{"last_heartbeat": ${System.currentTimeMillis() / 1000}}"""
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      polls += 1
      if (polls < maxPolls) Thread.sleep(pollMillis)
    }
    mark
  }
}
