package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical

/** Scan-parallelism guard for compute-dense operator heads.
  *
  * A small parquet table written as one file with one row group plans as
  * a SINGLE non-empty scan task no matter how it is split by bytes, so
  * everything narrow above the scan — tokenize + shingle + hash chains,
  * the d²-per-row covariance accumulation, all-pairs cosine scoring —
  * runs on one core while the rest of the session idles (guide §2.5,
  * input skew at the source). [[spread]] round-robins such an input
  * across the session's cores first; round-robin (not a keyed
  * repartition) so plan audits counting hash exchanges are untouched,
  * and predicate pushdown still reaches the scan below the exchange
  * (verified: PushedFilters carries the filter with a Repartition above
  * the scan).
  *
  * Scale posture: guarded, not unconditional — an input that already
  * plans with at least the session's core count of partitions (any real
  * multi-split table at cluster scale) is returned unchanged, so the
  * extra exchange exists ONLY in the tiny-input regime where its ~tens
  * of ms cost buys a core-count speedup of the scan stage. Applied at
  * the few measured-hot operator heads, never blanket: ops whose cost is
  * shuffle-bound (block/simhash/span families measured neutral-to-worse
  * under it, r19) keep their single-pass scan locality.
  *
  * Correctness: row-set semantics only — every operator behind a spread
  * is layout-independent (the FuzzVerify partition-count sweep pins
  * engine-vs-oracle hash equality at parts 1/7/32 every round).
  */
object Par {
  /** Conservative "already parallel" bound: an input whose optimizer size
    * estimate exceeds cores × maxPartitionBytes yields at least a full
    * wave of scan tasks on its own (splittable sources), so spreading it
    * would only add a corpus-sized exchange. The check reads LOGICAL
    * stats — no physical planning, no `.rdd`, no jobs — because operators
    * behind it are resolved at analysis time by the SQL surface and
    * EXPLAIN must stay job-free (ExtensionsSpec pins that), and under AQE
    * a `.rdd`-based probe would eagerly execute upstream stages. */
  // No decision memo: the decision reads the ANALYZED plan, which comes
  // before cache substitution, so one logical input gets one decision —
  // and one canonical plan across consumers, the cache-key split the
  // shingleRows comment guards against — whatever the session happens to
  // have cached when it is asked (r19 ADVICE). Deciding costs one walk of
  // the analyzed plan plus its size-only stats, and no job.
  def spread(df: DataFrame): DataFrame = {
    // streaming frames never reach the single-task-scan regime this
    // exists for, and forcing analysis/stats on them at construction is
    // exactly the r19 ADVICE hazard — pass through untouched
    if (df.isStreaming) return df
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      .map(org.apache.spark.network.util.JavaUtils.byteStringAsBytes)
      .getOrElse(128L * 1024 * 1024)
    // the analyzed (pre-cache-substitution, pre-optimization) plan: its
    // stats are the raw size-only estimate — exactly the scan-sized
    // signal the guard wants, uncontaminated by session cache state
    val plan = df.queryExecution.analyzed
    // an input whose plan already holds a node that ALWAYS plans an
    // exchange — an explicit repartition (the bench stress generators) or
    // an aggregate — executes its narrow tail at shuffle parallelism
    // already; re-spreading it pays a full-payload exchange PLUS the
    // keyless repartition's sort-before-repartition local sort of every
    // row (SPARK-23207), measured 12.1s → 23.4s warm on
    // containment_join_4x before this guard (r19). Joins are deliberately
    // NOT in the list: the semi-join prunes ahead of spread sites
    // broadcast, which keeps the big side narrow — exactly the single-task
    // scan the spread exists to break up.
    val alreadyWide = plan.exists {
      case _: logical.RepartitionOperation => true
      case _: logical.Aggregate => true
      case _ => false
    }
    val doSpread = !(alreadyWide || plan.stats.sizeInBytes > BigInt(target) * maxSplit)
    if (doSpread) df.repartition(target) else df
  }
}
