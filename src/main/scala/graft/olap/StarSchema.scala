package graft.olap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Star-schema ETL building blocks — the set-oriented re-expression of the
  * reference's row-at-a-time sync (`/root/reference/sync_oltp_to_olap.py`).
  *
  * The reference loops a cursor and issues one `INSERT ... ON CONFLICT DO
  * UPDATE` per row; here each dimension/fact is ONE declarative plan, so at
  * 100 TB the build is a handful of broadcast joins over a single fact scan
  * instead of N round-trips.
  */
object StarSchema {

  // ---------------------------------------------------------------------
  // Generic primitives
  // ---------------------------------------------------------------------

  /** SCD Type-1 "last write wins": keep the newest row per natural key.
    * Set-oriented equivalent of the reference's `ON CONFLICT DO UPDATE`
    * upsert loop (sync_oltp_to_olap.py:54-93, 174-191). One shuffle on the
    * key.
    *
    * @param order descending-priority ordering (newest first), e.g.
    *              `Seq(col("ts").desc, col("event_id").desc)`
    */
  def scd1Latest(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Type-2 slowly-changing-dimension history from a change stream: one
    * validity-interval row per (key, change) — `valid_from_us` is the
    * change's own timestamp, `valid_to_us` the NEXT change's (NULL while
    * current), `version` the 1-based change ordinal, `is_current` on the
    * open row. The SCD2 complement of [[scd1Latest]]: where SCD1 keeps
    * only the newest row, SCD2 keeps every row with its validity range,
    * and a point-in-time dimension lookup becomes a range predicate
    * (`valid_from_us <= t AND (valid_to_us IS NULL OR t < valid_to_us)`).
    *
    * One key-partitioned shuffle carries the whole computation (the lead
    * and the ordinal ride the same sorted window). The streaming sink
    * ([[graft.streaming.EventsCdc.scd2MergeBatchSplit]]) runs it over each
    * batch alone and rewrites only the open rows.
    *
    * @param tsUs  epoch-microsecond change-time column (long — engine-exact)
    * @param order full tiebroken ascending order, e.g.
    *              `Seq(col("ts_us"), col("event_id"))`
    */
  def scd2History(df: DataFrame, keys: Seq[String], tsUs: Column,
                  order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("version", row_number().over(w))
      .withColumn("valid_from_us", tsUs)
      .withColumn("valid_to_us", lead(tsUs, 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
  }

  /** Deterministic small-int surrogate keys for a LOW-cardinality dimension
    * (mirrors dim_metodo_pago / dim_envio sequences,
    * sync_oltp_to_olap.py:147-172). dense_rank over the *distinct* values —
    * the window sees only the post-distinct rows (≤ thousands), never the
    * fact, so the single-partition sort is bounded. For high-cardinality
    * keys at 100 TB use [[hashKey]] instead (no global sort).
    */
  def surrogateDenseRank(df: DataFrame, keyCols: Seq[String], skName: String): DataFrame = {
    val w = Window.orderBy(keyCols.map(col): _*)
    df.select(keyCols.map(col): _*).distinct()
      .withColumn(skName, dense_rank().over(w))
  }

  /** 64-bit hash surrogate key — the 100 TB path: deterministic, computed
    * map-side, no shuffle, collision odds ~n²/2⁶⁵. */
  def hashKey(cols: Column*): Column = xxhash64(cols: _*)

  /** Live rows of a tombstone-carrying SCD1 state — the delete half of the
    * reference worker's op=insert/update/delete protocol
    * (worker_sync.py:96-101): deletes flow through [[scd1Latest]] like any
    * other change (the state MUST keep tombstone rows, or a late-arriving
    * older row would resurrect the key on the next merge); reading the
    * current table filters keys whose latest change is a delete. */
  def live(state: DataFrame, isDelete: Column): DataFrame =
    state.filter(!isDelete)

  // ---------------------------------------------------------------------
  // Dimensions (on the TPC-H-ish test schema)
  // ---------------------------------------------------------------------

  /** Date dimension derived from a timestamp column — mirrors
    * `upsert_dim_tiempo` (sync_oltp_to_olap.py:95-145): fecha → anio, mes,
    * dia, trimestre, semana(ISO). Distinct-first, so the dense_rank window
    * runs over ≤ a few thousand dates regardless of fact size.
    */
  def dimDate(src: DataFrame, tsCol: String): DataFrame = {
    val dates = src.select(to_date(col(tsCol)).as("date_key")).distinct()
    val w = Window.orderBy(col("date_key"))
    dates
      .withColumn("date_sk", dense_rank().over(w))
      .withColumn("year", year(col("date_key")))
      .withColumn("month", month(col("date_key")))
      .withColumn("day", dayofmonth(col("date_key")))
      .withColumn("quarter", quarter(col("date_key")))
      .withColumn("week", weekofyear(col("date_key")))
      .select("date_sk", "date_key", "year", "month", "day", "quarter", "week")
  }

  /** Customer dimension: snowflake enrichment (nation, region broadcast) plus
    * latest-order attributes — the set-oriented form of the reference's
    * `clientes LEFT JOIN orden` enrichment (sync_oltp_to_olap.py:197-201),
    * where the cursor loop's "last upsert wins" becomes an explicit
    * latest-order-per-customer window.
    */
  def dimCustomer(customer: DataFrame, nation: DataFrame, region: DataFrame,
                  orders: DataFrame): DataFrame = {
    val lastOrder = scd1Latest(
      orders.select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"), col("o_orderstatus")),
      Seq("o_custkey"), Seq(col("o_orderkey").desc))
      .select(col("o_custkey"),
              col("o_orderpriority").as("last_order_priority"),
              col("o_orderstatus").as("last_order_status"))
    customer
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
      .join(lastOrder, customer("c_custkey") === lastOrder("o_custkey"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"),
              col("n_name").as("nation"), col("r_name").as("region"),
              col("last_order_priority"), col("last_order_status"))
  }

  /** Product dimension with derived category — mirrors dim_producto +
    * dim_categoria (sync_oltp_to_olap.py:69-93); category = head word of
    * p_type (pure map-side projection). */
  def dimPart(part: DataFrame): DataFrame =
    part.select(col("p_partkey"), col("p_name"), col("p_brand"),
                split(col("p_type"), " ").getItem(0).as("category"),
                col("p_type"), col("p_size"), col("p_retailprice"))

  /** Standalone category dimension — mirrors the reference's dim_categoria
    * (its own table with id/name/attributes, sync_oltp_to_olap.py:71-80),
    * rather than folding category into the product dim: distinct categories
    * (head word of p_type) with aggregated descriptive attributes and a
    * dense-rank surrogate (the post-aggregation input is ≤ dozens of rows,
    * so the global sort is bounded). */
  def dimCategory(part: DataFrame): DataFrame = {
    val w = Window.orderBy(col("category"))
    part
      .select(split(col("p_type"), " ").getItem(0).as("category"),
              col("p_brand"))
      .groupBy(col("category"))
      .agg(count(lit(1)).as("n_parts"),
           countDistinct(col("p_brand")).as("n_brands"))
      .withColumn("category_sk", dense_rank().over(w))
      .select("category_sk", "category", "n_parts", "n_brands")
  }

  /** Supplier dimension snowflaked through nation/region (broadcast). */
  def dimSupplier(supplier: DataFrame, nation: DataFrame, region: DataFrame): DataFrame =
    supplier
      .join(broadcast(nation), supplier("s_nationkey") === nation("n_nationkey"), "left")
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"), "left")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
              col("n_name").as("nation"), col("r_name").as("region"))

  // ---------------------------------------------------------------------
  // Fact build
  // ---------------------------------------------------------------------

  /** Fact table build — mirrors `_sync_ventas` + `upsert_hecho_ventas`
    * (sync_oltp_to_olap.py:239-334): the reference's 4-way OLTP join
    * (ventas⋈orden⋈orden_producto⋈productos) becomes
    * lineitem⋈orders⋈part⋈supplier with the same computed-measure shapes
    * (`total = qty*unit_price`, `margin = (price-cost)*qty`).
    *
    * Scale: part/supplier are broadcast (dims ≪ fact); lineitem⋈orders is
    * the one real shuffle, on the orderkey both sides already cluster by.
    */
  def factSales(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
                supplier: DataFrame): DataFrame = {
    lineitem
      .join(orders, lineitem("l_orderkey") === orders("o_orderkey"))
      .join(broadcast(part), lineitem("l_partkey") === part("p_partkey"))
      .join(broadcast(supplier), lineitem("l_suppkey") === supplier("s_suppkey"))
      .select(
        col("l_orderkey"), col("l_linenumber"),
        to_date(col("o_orderdate")).as("date_key"),
        col("o_custkey"), col("l_partkey"), col("l_suppkey"),
        col("o_orderpriority"),
        col("l_quantity").as("quantity"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("total_sale"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * col("l_tax")).as("tax_amount"),
        (col("l_extendedprice") - col("p_retailprice") * col("l_quantity")).as("margin"))
  }

  /** Referential-integrity repair — mirrors the reference's placeholder-dim
    * branches (sync_oltp_to_olap.py:272-314): fact rows whose part FK misses
    * the (restricted) catalog get an 'UNKNOWN' placeholder instead of being
    * dropped. Left join + coalesce; aggregated per brand for inspection.
    */
  def factRiRepair(lineitem: DataFrame, partCatalog: DataFrame): DataFrame = {
    lineitem
      .join(broadcast(partCatalog), lineitem("l_partkey") === partCatalog("p_partkey"), "left")
      .select(coalesce(col("p_brand"), lit("UNKNOWN")).as("brand"),
              when(col("p_partkey").isNull, lit(1)).otherwise(lit(0)).as("repaired"),
              col("l_quantity"))
      .groupBy(col("brand"), col("repaired"))
      .agg(count(lit(1)).as("n_rows"),
           graft.queries.Exact.dsum(col("l_quantity")).as("sum_qty"))
  }
}
