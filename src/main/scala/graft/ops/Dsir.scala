package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.Exact
import graft.sources.FileFormats

/** Data Selection via Importance Resampling — the "make the raw crawl look
  * like the target domain" curation operator (after Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling", NeurIPS —
  * public literature). Two distributions over HASHED bigram features are
  * estimated — one from the docs marked as the target domain, one from the
  * whole raw corpus — and every doc is scored by how much more likely its
  * features are under the target than under the raw model. High-weight docs
  * are "target-like" crawl text worth keeping; the companion
  * [[resample]] then thins the corpus proportionally to the weight with the
  * portable deterministic bucket, yielding the same selected set from any
  * engine, any partitioning, any retry.
  *
  * Differences from the paper, on purpose:
  *   - The per-doc score is the ARITHMETIC mean of per-feature probability
  *     ratios, not the sum of log-ratios (geometric): `ln` rounds
  *     differently across libm implementations (the tfidf/lm_bigram
  *     discipline documented in [[TextAnalysis.lmBigramScore]]), while each
  *     ratio here is three correctly-rounded IEEE divisions over exact
  *     integer counts — bit-identical in any engine — and the mean
  *     accumulates in DECIMAL(38,6). Both orderings rank "target-like"
  *     above "off-domain", which is what selection consumes.
  *   - Features are add-one-smoothed hashed bigrams (the paper's hashed
  *     n-gram model at n = 2), bucketed by the md5-prefix portable hash
  *     shared with the dedup oracles — any SQL engine reproduces the exact
  *     bucket, where a murmur/xxhash would be Spark-only.
  *
  * Scale shape: ONE per-row tokenize feeds the per-doc bigram stream
  * ([[TextAnalysis.ngrams]] — row-local, no doc_id exchange or window)
  * and both count tables; the count tables are at most B = 4096 rows
  * each, so scoring is two BROADCAST joins plus two 1-row totals — the
  * corpus is scored at scan speed and never reshuffles. At 100 TB the target model
  * typically comes from a fixed curated corpus; the broadcast-scoring shape
  * is identical, only the count-table provenance changes. Docs with fewer
  * than two tokens have no features and are absent from the output (the
  * lm_bigram_score domain convention); an empty target degrades to the
  * uniform add-one model (n_t = 0 everywhere) rather than failing, so the
  * weights stay defined while carrying no signal.
  */
object Dsir {

  /** Hashed-feature vocabulary width (buckets). */
  val B = 4096

  /** Portable bucket in [0, B): md5-prefix of the feature string — 15 hex
    * chars = 60 bits, non-negative, exactly reproducible in any SQL engine
    * as ('0x' || substr(md5(f), 1, 15))::BIGINT % B. */
  def featHash(f: Column): Column =
    pmod(conv(substring(md5(f.cast("binary")), 1, 15), 16, 10).cast("long"),
         lit(B.toLong))

  /** Per-doc (doc_id, fh) hashed-bigram feature occurrences with the
    * target-membership flag carried through. */
  private def features(docs: DataFrame, isTarget: Column): DataFrame = {
    docs
      .select(col("doc_id"), isTarget.as("is_tgt"),
        TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("is_tgt"),
        explode(TextAnalysis.ngrams(col("t"), 2)).as("g"))
      .select(col("doc_id"), col("is_tgt"), featHash(col("g")).as("fh"))
  }

  /** Per-batch ADDITIVE count partials of the two hashed-bigram models:
    * at most B rows of (fh, n_t, n_r) — this batch's target and raw
    * feature-occurrence counts per bucket. Counts are longs summing
    * exactly across disjoint document batches (each doc arrives once),
    * so blind batch-tagged appends of these partials keep a standing
    * count-model table current with NO read-modify-write and no history
    * rescans — the gram-df / covariance-partials posture
    * ([[graft.streaming.StateSink.run]]); readers sum per bucket and
    * score through [[weightsFromCounts]]. Replay: counts add, so a
    * redelivered batch counts twice. */
  def countPartials(docs: DataFrame, isTarget: Column): DataFrame =
    features(docs, isTarget).groupBy(col("fh"))
      .agg(sum(when(col("is_tgt"), lit(1L)).otherwise(lit(0L))).as("n_t"),
           count(lit(1)).as("n_r"))

  /** Score `docs` against a standing count model (any union of
    * [[countPartials]] outputs — summed per bucket here, so appended
    * partials and a single-batch table read identically). Exact integer
    * counts in, the identical three-division ratio tree and decimal mean
    * out: served-from-state ≡ the one-shot batch [[weights]] BIT FOR BIT
    * over the same absorbed corpus (DsirSpec pins it through the real
    * streaming wiring). Docs whose features never reached the model
    * contribute only their modeled features (inner join on the raw
    * side) — the served contract is "score the absorbed corpus". */
  def weightsFromCounts(docs: DataFrame, counts: DataFrame): DataFrame = {
    // ONE ≤B-row model frame carrying per-bucket counts AND the two
    // totals inline (a global window over the collapsed counts — at most
    // B = 4096 rows by construction, so the single-partition total pass
    // is trivially cheap at any corpus size). One frame, one evaluation:
    // the tgtC/rawC/two-totals branch formulation re-ran the feature
    // explode + aggregate once per branch (measured ~1.3× on
    // dsir_weights before this shape).
    val all = Window.partitionBy(lit(1))
    val model = counts.groupBy(col("fh"))
      .agg(sum(col("n_t")).as("n_t"), sum(col("n_r")).as("n_r"))
      .select(col("fh"), col("n_t"), col("n_r"),
        sum(col("n_t")).over(all).as("nt_total"),
        sum(col("n_r")).over(all).as("nr_total"))
    // (n_t+1)/(Nt+B) / ((n_r+1)/(Nr+B)): three correctly-rounded IEEE
    // divisions over exact integer counts — the oracle mirrors this exact
    // expression tree (NOT the algebraically-equal cross-multiplied form,
    // whose products overflow 2^53 at corpus scale and round differently).
    // coalesce matches the historical left-join form where an
    // absent-from-target bucket read NULL; the summed model reads 0 —
    // identical value either way.
    val ratio =
      ((coalesce(col("n_t"), lit(0L)) + lit(1L)).cast("double") /
        (col("nt_total") + lit(B.toLong)).cast("double")) /
      ((col("n_r") + lit(1L)).cast("double") /
        (col("nr_total") + lit(B.toLong)).cast("double"))
    features(docs, lit(false)).select(col("doc_id"), col("fh"))
      .join(broadcast(model), Seq("fh"))
      .select(col("doc_id"), ratio.as("r"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_feats"),
           Exact.davg(col("r")).as("dsir_weight"))
  }

  /** The standing-table read path: sum the appended [[countPartials]]
    * under `countsDir` and score `docs` — what a pipeline serves after
    * streaming [[countPartials]] through [[graft.streaming.StateSink.run]]
    * absorbed the corpus. */
  def weightsFromTable(spark: org.apache.spark.sql.SparkSession,
                       countsDir: String, docs: DataFrame): DataFrame =
    weightsFromCounts(docs,
      FileFormats.readParquet(spark, countsDir).select(col("fh"), col("n_t"), col("n_r")))

  /** Per-doc importance weight: mean over the doc's hashed-bigram feature
    * occurrences of p_target(f) / p_raw(f), both add-one smoothed over the
    * B-bucket vocabulary. Output: (doc_id, n_feats, dsir_weight). One
    * corpus pass builds the ≤B-row count model ([[countPartials]]), a
    * second scores against its broadcast ([[weightsFromCounts]]) — the
    * same two passes the streaming-maintained path splits across
    * arrival batches and serve time. */
  def weights(docs: DataFrame, isTarget: Column): DataFrame =
    weightsFromCounts(docs, countPartials(docs, isTarget))

  /** Deterministic importance resample: keep each scored doc with
    * probability proportional to its weight — accept iff the portable
    * [0,100) bucket of doc_id falls below floor(100·w/w_max). The highest-
    * weight doc survives at (near-)certainty, off-domain docs are thinned
    * proportionally, and membership is a pure function of (doc_id, corpus)
    * — the [[Sampling]] reproducibility contract (task retries, replans and
    * other engines all select the identical subset). One corpus-sized join
    * with the weight table (id-keyed) plus a 1-row broadcast max; the
    * accept test is a map-side predicate. Output keeps the evidence columns
    * so the selection is auditable row by row. */
  def resample(docs: DataFrame, isTarget: Column): DataFrame = {
    val w = weights(docs, isTarget)
    val wmax = w.agg(max(col("dsir_weight")).as("w_max"))
    docs.select(col("doc_id"), col("source"))
      .join(w, Seq("doc_id"))
      .crossJoin(broadcast(wmax))
      .withColumn("accept_rate",
        floor(lit(100.0) * col("dsir_weight") / col("w_max")).cast("int"))
      .withColumn("sample_bucket", Sampling.bucket(col("doc_id")))
      .filter(col("sample_bucket") < col("accept_rate"))
      .select(col("doc_id"), col("source"), col("n_feats"),
        col("dsir_weight"), col("accept_rate"), col("sample_bucket"))
  }
}
