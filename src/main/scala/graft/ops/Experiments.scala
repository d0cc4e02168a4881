package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataTypes

/** Experiment analysis over mergeable per-arm moment state.
  *
  * The sufficient statistics for the Welch z (count, DECIMAL(38,6) sum,
  * DECIMAL(38,6) sum of squares per (experiment key, arm)) merge by plain
  * addition — the same associative shape as the sketch tables — so batch
  * analysis ([[graft.queries.EventQueries]] `ab_test_zscore`) and
  * continuous monitoring ([[armMoments]] per micro-batch through
  * [[graft.streaming.StateSink.run]]) share ONE read path:
  * [[zFromMoments]]. Served-from-state and computed-from-raw results are
  * equal EXACTLY (decimal addition is order-independent), not
  * approximately — spec-pinned.
  */
object Experiments {

  private val D = DataTypes.createDecimalType(38, 6)

  /** Reduce (key, arm, value) rows to per-(key, arm) moment partials:
    * at most 2 rows per key per call, mergeable by addition. Per-row
    * value² products are IEEE-exact doubles rounded once into
    * DECIMAL(38,6); from there every aggregate is exact. Replay: moments
    * add, so a redelivered batch counts twice. */
  def armMoments(events: DataFrame): DataFrame =
    events.groupBy(col("key"), col("arm"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(D)).as("s"),
        sum((col("value") * col("value")).cast(D)).as("q"))

  /** Merge moment partials (batch backfill + streaming appends) back to
    * one row per (key, arm): counts and decimal sums add. */
  def mergeMoments(partials: DataFrame): DataFrame =
    partials.groupBy(col("key"), col("arm"))
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"), sum(col("q")).as("q"))

  /** The experiment read-out from merged moments: per-arm counts and
    * means, the mean difference, the Welch z, and the sample-ratio-
    * mismatch chi² (check SRM BEFORE believing the z — a broken
    * assignment invalidates the experiment). All arithmetic is a handful
    * of correctly-rounded IEEE double ops + one sqrt over exact
    * decimal-derived values — bit-for-bit reproducible in any engine;
    * deliberately no p-value (incomplete beta = libm territory). */
  def zFromMoments(moments: DataFrame): DataFrame =
    moments
      .groupBy(col("key"))
      .agg(
        sum(when(col("arm") === 0, col("n"))).as("n_a"),
        sum(when(col("arm") === 1, col("n"))).as("n_b"),
        sum(when(col("arm") === 0, col("s"))).cast("double").as("s_a"),
        sum(when(col("arm") === 1, col("s"))).cast("double").as("s_b"),
        sum(when(col("arm") === 0, col("q"))).cast("double").as("q_a"),
        sum(when(col("arm") === 1, col("q"))).cast("double").as("q_b"))
      .select(col("key"), col("n_a"), col("n_b"),
        (col("s_a") / col("n_a")).as("mean_a"),
        (col("s_b") / col("n_b")).as("mean_b"),
        // n <= 1 → variance undefined. The explicit gate matters
        // cross-engine: Spark's non-ANSI x/0 is NULL, but DuckDB's IEEE
        // division yields Inf/NaN, so relying on the divide-by-(n-1)=0
        // behavior would break the bit-for-bit contract on any dataset
        // with a singleton arm. NULL in BOTH engines, by construction.
        when(col("n_a") > 1,
          (col("q_a") - col("s_a") * col("s_a") / col("n_a")) /
            (col("n_a") - 1)).as("var_a"),
        when(col("n_b") > 1,
          (col("q_b") - col("s_b") * col("s_b") / col("n_b")) /
            (col("n_b") - 1)).as("var_b"))
      .select(col("key"), col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        (col("mean_b") - col("mean_a")).as("diff"),
        // degenerate variance (constant metric in both arms) → z = 0, not
        // 0/0 = NaN — the groupZScoreOutliers std=0 convention; fp
        // cancellation can also leave var microscopically NEGATIVE (the
        // <= 0 arm). The null test comes FIRST and explicitly: a
        // one-armed key has a NULL standard error and must surface as a
        // NULL z, not a fake 0 verdict — greatest() SKIPS nulls in both
        // engines, so a greatest()-based clamp would silently convert
        // "no control arm" into "no effect" (caught by FeaturesSpec).
        when((col("var_a") / col("n_a") + col("var_b") / col("n_b")).isNull,
          lit(null).cast("double"))
          .when(col("var_a") / col("n_a") + col("var_b") / col("n_b") <= 0.0,
            lit(0.0))
          .otherwise((col("mean_b") - col("mean_a")) /
            sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")))
          .as("z"),
        (((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))).cast("double") /
          (col("n_a") + col("n_b"))).as("srm_chi2"))
}
