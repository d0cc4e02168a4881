package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named parquet table loaders for the engine's canonical schema.
  *
  * Mirrors the reference's OLTP source surface
  * (sync_oltp_to_olap.py:194-260 reads whole tables / single records); here a
  * table is a parquet directory and Catalyst pushes filters and projections
  * into the scan, so an "incremental" read is the same API with a predicate.
  *
  * Every loader opens its table through [[FileFormats.readParquet]]: the
  * schema comes from one footer read on the driver, so opening a table
  * runs no Spark job, where Spark's own read runs its one-task
  * schema-inference job every time (StandingStarSpec pins 0 against 1 for
  * `orders`). A full re-sync opens seven tables, and a CDC batch's
  * `syncIncremental` opens four.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    FileFormats.readParquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events table's `ts` column has shipped as two different parquet
    * types across testdata generations: TIMESTAMP(NANOS) — which Spark's
    * vector reader rejects, so with `spark.sql.legacy.parquet.nanosAsLong
    * =true` it arrives as epoch-nanos BIGINT — and TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which arrives as TIMESTAMP_NTZ. Dispatch on
    * the arrived type and normalize both to a microsecond TimestampType
    * (session TZ is pinned UTC, so the NTZ→LTZ cast is value-identical and
    * matches DuckDB's naive-timestamp reading of the same file). */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => // epoch-nanos via nanosAsLong; ns→us truncation
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType =>
        // the NTZ→LTZ cast reinterprets the wall-clock fields in the
        // SESSION timezone — value-identical to DuckDB's naive reading
        // only when that is UTC. GraftSession pins it; a bare session
        // that didn't would silently shift every event timestamp, so
        // refuse loudly instead.
        val tz = s.conf.get("spark.sql.session.timeZone")
        require(tz == "UTC",
          s"events.ts is TIMESTAMP_NTZ; session timezone must be UTC for a " +
            s"value-identical cast, got $tz — build the session via GraftSession")
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts arrived as unsupported type $other — expected " +
          "epoch-nanos BIGINT, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
