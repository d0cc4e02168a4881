package graft

/** CLI entry point — the library-user equivalent of the reference's
  * `main.py` trigger surface (full sync on demand; incremental sync driven
  * by a changed-key table):
  *
  *   spark-submit --class graft.SyncMain graft.jar full <srcDir> <outDir>
  *   spark-submit --class graft.SyncMain graft.jar incremental <srcDir> <outDir>
  *   spark-submit --class graft.SyncMain graft.jar status <srcDir> <outDir>
  *   spark-submit --class graft.SyncMain graft.jar listen <jdbcUrl> <arrivalsDir>
  *
  * Incremental mode derives the changed-customer set from the events change
  * stream (purchase events), mirroring the worker's NOTIFY-driven re-sync.
  *
  * `listen` is the reference worker's standing process (worker_sync.py):
  * a driver-side JDBC poll of a pg_notify-style relay relation
  * ([[graft.streaming.NotifyShim]]) that appends each batch of notified
  * event rows as an arrival file under `<arrivalsDir>` — the directory a
  * concurrently-running SCD1 worker watches (the [[graft.streaming.StateSink.run]]
  * composition in [[graft.streaming.EventsCdc.scd1MergeBatch]]'s scaladoc).
  * Tunables ride the environment, reference-style: GRAFT_NOTIFY_TABLE
  * (default `notifications`), GRAFT_EVENTS_TABLE (`events`),
  * GRAFT_POLL_SECONDS (`5`), GRAFT_JDBC_USER / GRAFT_JDBC_PASSWORD (empty),
  * GRAFT_STATUS_FILE (heartbeat JSON path, unset = no heartbeat file).
  */
object SyncMain {

  /** JDBC driver class from the url scheme — the two engines this repo's
    * surface targets (Postgres as the reference OLTP, DuckDB as the
    * spec/oracle engine). Anything else must set GRAFT_JDBC_DRIVER. */
  private[graft] def driverFor(url: String): String =
    sys.env.getOrElse("GRAFT_JDBC_DRIVER",
      if (url.startsWith("jdbc:duckdb")) "org.duckdb.DuckDBDriver"
      else "org.postgresql.Driver")

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: SyncMain full|incremental|status <srcDir> <outDir> | listen <jdbcUrl> <arrivalsDir>")
    val Array(mode, srcDir, outDir) = args
    val spark = GraftSession.get(s"graft-sync-$mode")
    try {
      mode match {
        case "full" =>
          graft.olap.StarSchemaJob.run(spark, srcDir, outDir)
          println(s"full sync written to $outDir")
        case "incremental" =>
          import org.apache.spark.sql.functions.col
          val changed = graft.sources.Tables.events(spark, srcDir)
            .filter(col("event_type") === "purchase")
            .select(col("user_id")).distinct()
          val n = graft.olap.StarSchemaJob.syncIncremental(spark, srcDir, outDir, changed)
          println(s"incremental sync rewrote $n fact rows in $outDir")
        case "status" =>
          graft.olap.StarSchemaJob.status(spark, outDir).show(truncate = false)
        case "listen" =>
          val conn = graft.sources.Jdbc.ConnInfo(srcDir,
            sys.env.getOrElse("GRAFT_JDBC_USER", ""),
            sys.env.getOrElse("GRAFT_JDBC_PASSWORD", ""),
            driverFor(srcDir))
          val mark = graft.streaming.NotifyShim.listenLoop(spark, conn,
            sys.env.getOrElse("GRAFT_NOTIFY_TABLE", "notifications"),
            sys.env.getOrElse("GRAFT_EVENTS_TABLE", "events"),
            outDir,
            pollMillis = sys.env.getOrElse("GRAFT_POLL_SECONDS", "5").toLong * 1000L,
            statusFile = sys.env.get("GRAFT_STATUS_FILE")
              .map(java.nio.file.Paths.get(_)),
            // GRAFT_SCHEMA_FROM: a parquet path whose schema arrival files
            // must conform to (guards JDBC integer-width widening)
            schemaFrom = sys.env.get("GRAFT_SCHEMA_FROM")
              .map(p => graft.sources.FileFormats.readParquet(spark, p).schema))
          println(s"listen loop ended at notify_id $mark")
        case other =>
          throw new IllegalArgumentException(s"unknown mode: $other")
      }
    } finally spark.stop()
  }
}
