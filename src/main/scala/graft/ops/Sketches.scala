package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable-sketch rollup tables — the incremental-statistics pattern a
  * 100 TB warehouse runs instead of rescanning history: each load builds a
  * tiny sketch row per partition (day, shard, source), and any later
  * question over any partition subset is answered by MERGING sketches —
  * never by touching the underlying data again. Distinct counts use the
  * Apache DataSketches HLL aggregates built into Spark
  * (`hll_sketch_agg` / `hll_union_agg`, SPARK-16484): unlike
  * `count(DISTINCT)`, the sketch state is a few KB, mergeable in any
  * order, and persistable as a binary column.
  *
  * The estimate error is ~1.04/√(2^lgK) relative standard deviation —
  * lgK=14 ⇒ ~0.8% RSD, so a ±5% acceptance bound is >6σ.
  */
object Sketches {

  /** One sketch row per bucket: (bucket, n_rows, exact_n — kept for
    * verification/backfill audits — and the mergeable HLL sketch of
    * `key`). This is the table a pipeline PERSISTS per load. Replay:
    * HLL union is idempotent, so a redelivered batch leaves the estimate
    * unchanged; the additive `n_rows` counts it twice. */
  def distinctSketch(df: DataFrame, bucket: Column, key: Column,
                     lgK: Int = 14): DataFrame =
    df.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
           hll_sketch_agg(key, lgK).as("sketch"))

  /** Merge a sketch-table subset to a single distinct estimate — the
    * incremental read path: cost ∝ number of buckets, not data size. */
  def mergedEstimate(sketches: DataFrame): DataFrame =
    sketches.agg(
      sum(col("n_rows")).as("n_rows"),
      hll_sketch_estimate(hll_union_agg(col("sketch"), allowDifferentLgConfigK = false))
        .as("distinct_estimate"))

  /** Heavy-hitters sketch table — one row per (bucket, shard) holding the
    * serialized ≤ k-counter Misra-Gries summary of `item` plus the shard's
    * total item weight ([[graft.functions.MisraGries]]). This is the table
    * a pipeline PERSISTS per load shard, the heavy-hitter twin of
    * [[distinctSketch]]: each row is KBs regardless of shard size, and the
    * partial/shuffle state behind it is O(k) everywhere. Replay: merge
    * ADDS counters, so a redelivered shard counts twice — the
    * f − n/(k+1) ≤ ĉ ≤ f bound holds against the recorded `n_items`. */
  def heavyHitterSketch(df: DataFrame, bucket: Column, shard: Column,
                        item: Column, k: Int = 64): DataFrame =
    df.groupBy(bucket.as("bucket"), shard.as("shard"))
      .agg(graft.functions.MisraGries.mgSketchAgg(item, k).as("sketch"),
           count(item).as("n_items"))

  /** Merge a sketch-table subset per bucket — the incremental read path
    * (cost ∝ sketch rows, never data size): merged counters decoded to
    * (item, count_est) rows with the bucket's total weight, against which
    * the Misra-Gries bound f − n/(k+1) ≤ ĉ ≤ f is checkable. */
  def heavyHittersMerged(sketches: DataFrame, k: Int = 64): DataFrame =
    sketches.groupBy(col("bucket"))
      .agg(graft.functions.MisraGries.mgMergeAgg(col("sketch"), k).as("items"),
           sum(col("n_items")).as("n_bucket"))
      .select(col("bucket"), col("n_bucket"), explode(col("items")).as("it"))
      .select(col("bucket"), col("n_bucket"),
        col("it.item").as("item"), col("it.count_est").as("count_est"))

  /** Quantile sketch table — the third persisted sketch family: a
    * fixed-bin equi-width histogram over an INTEGER value domain
    * [lo, hi]. One (bucket, bin, cnt) row per non-empty bin (≤ nbins rows
    * per bucket regardless of data size), mergeable by plain count
    * addition under ANY merge tree, and — unlike GK/KLL summaries —
    * fully DETERMINISTIC: the same data produces the same sketch on any
    * engine and any partitioning, so an oracle can hash-check the
    * estimates themselves, not just acceptance flags. The trade: the
    * error bound is one bin width in VALUE space (bound known a priori
    * from [lo, hi]/nbins), not rank space. `lo`/`hi` come from partition
    * metadata or one min/max scalar at build time (the
    * [[graft.sources.FileFormats.writeZOrdered]] bounds posture).
    * All bin math is integer (`div`), replayable exactly anywhere.
    * Replay: bins add, so a redelivered batch counts twice; [est_lo,
    * est_hi] still brackets the replayed stream's rank value. */
  def histogramSketch(df: DataFrame, bucket: Column, value: Column,
                      lo: Long, hi: Long, nbins: Int = 1024): DataFrame = {
    require(hi >= lo && nbins > 0, s"bad histogram domain [$lo,$hi] x $nbins")
    val w = hi - lo + 1
    df.select(bucket.as("bucket"), value.as("v"))
      .select(col("bucket"),
        expr(s"((greatest(least(v, ${hi}L), ${lo}L) - ${lo}L) * $nbins) div ${w}L")
          .as("bin"))
      .groupBy(col("bucket"), col("bin")).agg(count(lit(1)).as("cnt"))
  }

  /** Merged-subset quantile query over a histogram sketch table — the
    * incremental read path: merge bins by addition, take per-subset
    * cumulative counts, and for each requested quantile p = num/den pick
    * the first bin whose cumulative count reaches the EXACT integer rank
    * ⌈n·num/den⌉. Returns one row per (subset, quantile) with the bin's
    * value bounds: the true rank-r value provably lies in
    * [est_lo, est_hi] — a deterministic, engine-independent guarantee.
    * Ranks and edges are pure integer arithmetic; nothing floats. */
  def histogramQuantiles(sketch: DataFrame, subset: Column,
                         quantiles: Seq[(Int, Int)],
                         lo: Long, hi: Long, nbins: Int = 1024): DataFrame = {
    val spark = sketch.sparkSession
    import spark.implicits._
    val w = hi - lo + 1
    val merged = sketch.groupBy(subset.as("subset"), col("bin"))
      .agg(sum(col("cnt")).as("cnt"))
    val cum = merged.select(col("subset"), col("bin"), col("cnt"),
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("subset")).orderBy(col("bin"))).as("cum"),
      sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("subset"))).as("n"))
    val qs = quantiles.toDF("p_num", "p_den")
    cum.join(broadcast(qs))
      .withColumn("q_rank", expr("(n * p_num + p_den - 1) div p_den"))
      .filter(col("cum") >= col("q_rank"))
      .groupBy(col("subset"), col("p_num"), col("p_den"))
      .agg(min(col("bin")).as("bin"), max(col("n")).as("n"),
           max(col("q_rank")).as("q_rank"))
      .select(col("subset"), col("p_num"), col("p_den"), col("n"), col("q_rank"),
        expr(s"${lo}L + (bin * ${w}L + ${nbins - 1}) div $nbins").as("est_lo"),
        expr(s"${lo}L + ((bin + 1) * ${w}L + ${nbins - 1}) div $nbins - 1")
          .as("est_hi"))
  }

  /** Count-Min hash slot: depth-d hash of `item` into [0, width) — the
    * portable md5 construction every sampling/dedup oracle replays
    * (DuckDB: `('0x' || substr(md5(d || item), 1, 15))::BIGINT % width`). */
  private def cmSlot(d: Column, item: Column, width: Int): Column =
    pmod(conv(substring(md5(concat(d.cast("string"), item).cast("binary")), 1, 15),
        16, 10).cast("long"), lit(width.toLong)).cast("int")

  private def withDepths(df: DataFrame, depth: Int): DataFrame =
    df.select(col("*"),
      explode(array((0 until depth).map(lit): _*)).as("depth"))

  /** Count-Min frequency sketch table (Cormode & Muthukrishnan '05) —
    * the point-frequency member of the sketch family ([[distinctSketch]]
    * HLL / [[heavyHitterSketch]] Misra-Gries / [[histogramSketch]]
    * quantiles): one (bucket, depth, slot, cnt) row per non-empty cell,
    * depth × width cells per bucket regardless of data size. Unlike the
    * Misra-Gries rows, CM counters are PURE SUMS — order-free,
    * engine-replayable, so the sketch itself hash-checks (no
    * acceptance-flag indirection), and merging buckets is plain
    * per-cell addition. Hashes are the portable md5 slot with the depth
    * index as seed. NULL items are EXCLUDED on both the build and probe
    * sides (the [[Audit.coverage]] policy): a NULL key hashes to a NULL
    * slot that can never join, which would silently turn into a false
    * negative / underestimate — count NULL keys separately with a plain
    * isNull aggregate. Replay: cells add, so a redelivered batch counts
    * twice; est ≥ true frequency survives (redelivery only adds). */
  def countMinSketch(df: DataFrame, bucket: Column, item: Column,
                     depth: Int = 3, width: Int = 32): DataFrame =
    withDepths(df.select(bucket.as("bucket"), item.as("__item"))
        .filter(col("__item").isNotNull), depth)
      .groupBy(col("bucket"), col("depth"),
        cmSlot(col("depth"), col("__item"), width).as("slot"))
      .agg(count(lit(1)).as("cnt"))

  /** Bloom-filter membership sketch table (Bloom '70) — the membership
    * member of the sketch family, and the artifact behind every
    * join-pruning runtime filter: one (bucket, bit) row per SET bit of
    * the per-bucket filter (k hashes per item over the same portable md5
    * slot as [[countMinSketch]]). Merging buckets is set union (distinct
    * bits) — order-free and engine-replayable, so the filter itself
    * hash-checks. NULL items are excluded on both sides (see
    * [[countMinSketch]]'s NULL policy — a NULL bit never joins and would
    * fabricate a false negative). Replay: bit union is idempotent, so a
    * redelivered batch changes nothing. */
  def bloomSketch(df: DataFrame, bucket: Column, item: Column,
                  k: Int = 3, bits: Int = 65536): DataFrame =
    withDepths(df.select(bucket.as("bucket"), item.as("__item"))
        .filter(col("__item").isNotNull), k)
      .select(col("bucket"), cmSlot(col("depth"), col("__item"), bits).as("bit"))
      .distinct()

  /** Membership probes against a merged bloom subset: an item is
    * `maybe_present` iff ALL k of its bits are set. Bloom's
    * deterministic guarantee is NO FALSE NEGATIVES — a member item
    * always probes true; the false-positive rate is what `bits` buys
    * (≈ fill^k at the observed fill fraction). Probes are evaluated per
    * DISTINCT item value (deduplicated on entry — duplicated input rows
    * would double the hit count and falsely fail the all-k test). */
  def bloomProbe(sketch: DataFrame, items: DataFrame, itemCol: String,
                 k: Int = 3, bits: Int = 65536): DataFrame = {
    val merged = sketch.select(col("bit")).distinct()
    val distinctItems = items.select(col(itemCol))
      .filter(col(itemCol).isNotNull).distinct()
    withDepths(distinctItems, k)
      .select(col(itemCol), cmSlot(col("depth"), col(itemCol), bits).as("bit"))
      .join(merged, Seq("bit"), "left_semi")
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("__hits"))
      .join(distinctItems, Seq(itemCol), "right")
      .select(col(itemCol),
        coalesce(col("__hits") === k.toLong, lit(false)).as("maybe_present"))
  }

  /** Point-frequency estimates for `items` from a merged CM sketch
    * subset: est = min over depths of the item's cell sum, an EMPTY cell
    * counting as 0 (the sketch stores only non-empty cells, so the probe
    * LEFT-joins and fills zero — an inner join would drop never-seen
    * items or inflate their min over only the colliding depths). CM
    * never underestimates (every cell sum ≥ the item's true count — a
    * deterministic property, not probabilistic), so `est_n ≥ exact_n`
    * always, and an absent item estimates exactly 0 unless every one of
    * its cells collides. */
  def countMinEstimates(sketch: DataFrame, items: DataFrame,
                        itemCol: String, depth: Int = 3,
                        width: Int = 32): DataFrame = {
    val merged = sketch.groupBy(col("depth"), col("slot"))
      .agg(sum(col("cnt")).as("cnt"))
    val probes = withDepths(items.select(col(itemCol))
        .filter(col(itemCol).isNotNull).distinct(), depth)
      .select(col(itemCol), col("depth"),
        cmSlot(col("depth"), col(itemCol), width).as("slot"))
    probes.join(merged, Seq("depth", "slot"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_n"))
  }
}
