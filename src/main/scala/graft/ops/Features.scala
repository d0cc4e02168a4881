package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

/** Leakage-free feature-engineering operators (DataFrame-level; the
  * registry wrappers + oracles live in graft.queries.FeatureQueries).
  *
  * All three are single-shuffle window/sweep plans: the classic
  * formulations (correlated subqueries, inequality self-joins, per-probe
  * scans) are quadratic and deliberately not used — at 100 TB each of these
  * is one hash shuffle on the entity key followed by a linear
  * per-partition pass with O(1) window state.
  */
object Features {

  private val D = DataTypes.createDecimalType(38, 6)

  /** Point-in-time-correct feature backfill: for every probe row (a
    * "prediction time"), running aggregates of the history rows for the
    * same key STRICTLY BEFORE the probe's instant — count, exact
    * DECIMAL(38,6) sum of `price`, and the latest prior timestamp.
    *
    * probes:  (k, t, eid)          — eid must be unique per probe
    * history: (k, t, hid, price)
    * returns: (eid, k, t, n_before, sum_before, last_t) sorted-free
    *
    * Union trick: both sides interleave in ONE per-key time-ordered window;
    * probes sort BEFORE history rows at equal timestamps (is_probe DESC),
    * which pins strictly-before semantics instead of leaving tie behavior
    * to the engine. A future-dated history row can never reach a probe's
    * frame — leakage is structurally impossible, not a convention.
    */
  def pointInTime(probes: DataFrame, history: DataFrame): DataFrame = {
    val p = probes.select(col("k"), col("t"), lit(1).as("is_probe"),
      col("eid"), lit(null).cast("double").as("price"))
    val h = history.select(col("k"), col("t"), lit(0).as("is_probe"),
      col("hid").as("eid"), col("price"))
    val w = Window.partitionBy(col("k"))
      .orderBy(col("t").asc, col("is_probe").desc, col("eid").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.unionAll(h)
      .select(col("k"), col("t"), col("is_probe"), col("eid"),
        sum(when(col("is_probe") === 0, 1).otherwise(0)).over(w).as("cnt"),
        sum(when(col("is_probe") === 0, col("price").cast(D))).over(w).as("sp"),
        max(when(col("is_probe") === 0, col("t"))).over(w).as("last_t"))
      .filter(col("is_probe") === 1)
      .select(col("eid"), col("k"), col("t"),
        col("cnt").cast("long").as("n_before"),
        col("sp").as("sum_before"), col("last_t"))
  }

  /** Recency-weighted engagement per key at a fixed as-of instant. Decay is
    * HYPERBOLIC (weight = 1/(1+age_days)) rather than exponential,
    * deliberately: exp/pow round differently across libm implementations,
    * while integer age (long division) and one double divide/multiply are
    * IEEE-correctly-rounded everywhere — so the same number falls out of
    * any engine and a cross-engine hash oracle can pin it. Rows at or
    * after the as-of instant are excluded: the feature must not see the
    * future. Per-row weights stay in double (deterministic), the
    * weighted sum accumulates in DECIMAL(38,6) (order-independent).
    *
    * events: (k, t_us, value) → (k, n_events, sum_value, decayed_value)
    */
  def decayWeighted(events: DataFrame, asofUs: Long): DataFrame = {
    val usPerDay = 86400000000L
    events
      // exclude the future BEFORE computing age: `div` truncates toward
      // zero, so a row 1µs past as-of would get age 0 and leak in (and
      // DuckDB's // floors, so the engines disagree exactly on negatives —
      // keeping the division domain non-negative keeps them identical)
      .filter(col("t_us") < asofUs)
      .select(col("k"), col("value"),
        expr(s"(${asofUs}L - t_us) div ${usPerDay}L").as("age_days"))
      .select(col("k"), col("value"),
        (col("value") * (lit(1.0) / (lit(1.0) + col("age_days").cast("double"))))
          .as("wv"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(D)).cast("double").as("sum_value"),
        sum(col("wv").cast(D)).cast("double").as("decayed_value"))
  }

  /** Mergeable per-(key, day) feature partials — the online-feature-store
    * state shape: each call reduces its input to AT MOST one row per
    * (key, event-day, at-midnight) holding (row count, exact DECIMAL(38,6)
    * value sum, latest timestamp). Partials merge by plain addition/max
    * ([[mergePartials]]), so batch backfill and streaming maintenance
    * ([[graft.streaming.StateSink.run]]) write the SAME table and a
    * serving read answers from state alone — history is never rescanned.
    * Replay: counts and sums add, so a redelivered batch counts twice.
    *
    * The `at_midnight` split exists for exactness, not convenience: a
    * midnight as-of A gives elapsed-age A−d−1 to every row of day d EXCEPT
    * one exactly at d's midnight (age A−d) — folding those into the day
    * bucket would make day-level decay serving approximate at the
    * boundary. Splitting them keeps [[serveFeatures]] exact for every
    * midnight as-of.
    *
    * events: (k, t_us, value) → (k, day, at_midnight, n, sum_value, max_t)
    */
  def dayPartials(events: DataFrame): DataFrame =
    events
      // FLOOR day index, not `div`: div truncates toward zero, so a
      // pre-epoch t = -1µs would land in day 0 instead of day -1 and
      // break serveFeatures' age correspondence with decayWeighted
      // (whose elapsed-age domain is non-negative after its as-of
      // filter). (t - pmod(t, d)) / d is exact integer floor division.
      .groupBy(col("k"),
        expr("(t_us - pmod(t_us, 86400000000L)) div 86400000000L").as("day"),
        (pmod(col("t_us"), lit(86400000000L)) === 0).as("at_midnight"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast(D)).as("sum_value"),
        max(col("t_us")).as("max_t"))

  /** Merge partial rows (from any mix of batch backfill and streaming
    * appends) back to at most one row per (key, day, at_midnight): counts
    * and sums add, timestamps max — the same associative shapes the
    * sketch tables rely on. */
  def mergePartials(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("k"), col("day"), col("at_midnight"))
      .agg(sum(col("n")).as("n"), sum(col("sum_value")).as("sum_value"),
        max(col("max_t")).as("max_t"))

  /** Serve per-key features from the partial table at a midnight as-of:
    * event count, exact value sum, latest event time, and the hyperbolic
    * decay-weighted sum — all computed from O(keys × days) state, never
    * from raw history. Rows at or after the as-of instant are excluded
    * (strictly-before, matching [[decayWeighted]]).
    *
    * Decay arithmetic note: [[decayWeighted]] weights each ROW then
    * decimal-sums; serving weights each DAY BUCKET's decimal sum. The two
    * agree exactly when per-row products are representable in
    * DECIMAL(38,6) (FeaturesSpec pins such a case); in general they are
    * two rounding placements of the same hyperbolic decay — the bucket
    * placement is the one O(state)-serving can afford, and is
    * deterministic in its own right.
    */
  def serveFeatures(partials: DataFrame, asofUs: Long): DataFrame = {
    val usPerDay = 86400000000L
    require(asofUs % usPerDay == 0, "serveFeatures requires a midnight as-of")
    val asofDay = asofUs / usPerDay
    mergePartials(partials)
      .filter(col("day") < asofDay)
      .select(col("k"), col("n"), col("sum_value"), col("max_t"),
        when(col("at_midnight"), lit(asofDay) - col("day"))
          .otherwise(lit(asofDay) - col("day") - 1).as("age_days"))
      .select(col("k"), col("n"), col("sum_value"), col("max_t"),
        (col("sum_value").cast("double") *
          (lit(1.0) / (lit(1.0) + col("age_days").cast("double"))))
          .cast(D).as("wv"))
      .groupBy(col("k"))
      .agg(sum(col("n")).as("n_events"),
        sum(col("sum_value")).cast("double").as("sum_value"),
        max(col("max_t")).as("last_t"),
        sum(col("wv")).cast("double").as("decayed_value"))
  }

  /** Peak concurrency per key — the sweep-line classic: each point opens a
    * half-open interval [t, t+durUs); emit +1 at the start and -1 at the
    * end, order by (t, delta, id) so an interval ending at the exact
    * instant another starts does NOT overlap it, running-sum, then take
    * the max and the first instant it was reached (argmax via
    * lexicographic struct max in ONE aggregation pass — a join-back-on-
    * the-max would re-run the whole window). No quadratic interval
    * self-join; the per-key timeline streams through the window operator.
    *
    * points: (key, t, id) → (key, peak_concurrency, first_peak_us)
    */
  def peakConcurrency(points: DataFrame, durUs: Long): DataFrame = {
    require(durUs > 0, s"interval duration must be positive, got $durUs")
    val e = points.select(col("key"), col("t"), col("id"))
    val pts = e.select(col("key"), col("t"), lit(1).as("delta"), col("id"))
      .unionAll(e.select(col("key"), (col("t") + durUs).as("t"),
        lit(-1).as("delta"), col("id")))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("t").asc, col("delta").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pts.select(col("key"), col("t"), sum(col("delta")).over(w).as("cur"))
      .groupBy(col("key"))
      .agg(max(struct(col("cur"), (-col("t")).as("negt"))).as("m"))
      .select(col("key"), col("m.cur").cast("int").as("peak_concurrency"),
        (-col("m.negt")).as("first_peak_us"))
  }
}
