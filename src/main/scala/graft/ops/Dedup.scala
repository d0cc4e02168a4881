package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.FileFormats

/** Corpus deduplication operators: exact, exact n-gram Jaccard (prefix-filter
  * set-similarity join), MinHash+LSH, SimHash.
  *
  * The set-oriented analogue of a dedup pass a training-data pipeline runs
  * before tokenization. Every operator avoids the O(n²) cross join: exact
  * dedup is one hash shuffle on the normalized text; the similarity joins
  * generate candidates through lossless prefix filtering or LSH banding and
  * verify only the candidates.
  */
object Dedup {

  /** Normalized text form shared by all dedup operators (lowercase, trim,
    * collapse whitespace). */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Distinct word n-gram shingles as (doc_id, g) rows: each row's
    * [[TextAnalysis.ngrams]], `array_distinct` within the row, exploded —
    * no doc_id exchange, sort or window (a global `.distinct()` would add
    * a (doc_id, g) exchange). A minhash-shaped consumer over 3-shingles of
    * the 5,000 sf0.1 docs (`local[4]`, 4-core shared host, last 5 of 7
    * alternating reps) took 0.75–1.05 CPU s against 0.92–1.43 for a
    * doc_id lead-window build, equal output hash. Docs shorter than n
    * words emit no rows; rows sharing a doc_id each emit their own.
    *
    * The input is routed through [[Par.spread]] HERE, not at call sites:
    * the tokenize + n-gram explode — the whole shingle build — is the
    * scan stage's per-row work (single-task on a one-row-group input),
    * and spreading inside keeps every shingle consumer — the
    * minhash/ngram pins AND the lazy containment-join frame — on ONE
    * canonical plan so InternalCaches/plan-cache sharing survives (a
    * call-site spread split the canonicals and containment entries
    * re-derived the single-task subtree, measured 1.5–1.7× worse, r19). */
  def shingleRows(docs: DataFrame, n: Int): DataFrame =
    Par.spread(docs)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.ngrams(col("t"), n))).as("g"))

  /** Pairwise cross-source shingle-overlap matrix — WHERE duplication flows
    * between sources (the per-source dup-share read-out reports how
    * contaminated each source is; this reports which source PAIRS share
    * material — the crawl-vs-crawl / snapshot-vs-snapshot comparison a
    * curation pipeline uses to decide whether a new acquisition is
    * redundant before paying to dedup it doc-by-doc). For every source
    * pair: the shared distinct-shingle count, both directional containments
    * (share of each side's shingles the other side also has), and the
    * Jaccard. Pairs sharing zero shingles are absent (their row would be
    * all-zero).
    *
    * 100 TB shape: shingle strings are reduced map-side to a two-seed
    * 128-bit xxhash64 pair ([[exact]]'s collision contract, ~n²/2¹²⁹) so
    * the shuffle carries (hash128, source) only — never shingle text; the
    * per-hash source set is |sources|-bounded by construction, pair
    * fan-out (|sources| choose 2)-bounded, and everything after the
    * distinct is a |sources|²-sized aggregation. One shingle scan, one
    * hash-only distinct, one bounded census — no corpus-scale joins. The
    * per-hash frame is persisted (it feeds both the per-source sizes and
    * the pair census); a standing deployment writes it as a (source, hash)
    * index table instead ([[appendSourceShingleIndex]] — the
    * fingerprint-index discipline) and serves the matrix from the index
    * ([[sourceOverlapFromIndex]]) while arrivals maintain it at O(batch).
    *
    * @param docs (doc_id, source, text)
    * @param n    shingle width in words (docs shorter than n emit nothing)
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame =
    sourceOverlapCensus(sourceShingleRows(docs, n))

  /** Distinct (source, h1, h2) shingle-hash rows — the map-side reduction
    * [[sourceOverlap]] computes inline and the standing source-shingle
    * index persists. Hash-only: shingle text never leaves the scan. */
  def sourceShingleRows(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("source"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("source"), explode(TextAnalysis.ngrams(col("t"), n)).as("g"))
      .select(col("source"), xxhash64(col("g")).as("h1"),
        xxhash64(lit(1L), col("g")).as("h2"))
      .distinct()

  /** The overlap-matrix census over (source, h1, h2) rows (inline from
    * [[sourceOverlap]], or a standing index scan from
    * [[sourceOverlapFromIndex]] / the `graft_source_overlap_census` TVF).
    * Duplicate (source, hash) rows are ABSORBED here — `collect_set`
    * dedups sources per hash and the sizes are counted from those sets —
    * so blind index appends need no read-modify-write to stay exact (the
    * semi-join-probe idempotence discipline, in aggregate form). */
  def sourceOverlapCensus(sh: DataFrame): DataFrame = {
    val byHash = InternalCaches.persistBounded(sh.groupBy(col("h1"), col("h2"))
      .agg(sort_array(collect_set(col("source"))).as("ss")))
    val sizes = byHash.select(explode(col("ss")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    // ordered pairs from the sorted source set: element i with every later
    // element — sort_array makes s1 < s2 by construction (binary string
    // order, matching the oracle's a.source < b.source)
    val pairs = byHash
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss"))),
          y => struct(x.as("s1"), y.as("s2")))))).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(sizes.select(col("source").as("s1"), col("n_sh").as("n_s1")), "s1")
      .join(sizes.select(col("source").as("s2"), col("n_sh").as("n_s2")), "s2")
      .select(col("s1"), col("s2"), col("n_s1"), col("n_s2"), col("n_shared"),
        (col("n_shared").cast("double") / col("n_s1")).as("containment_s1"),
        (col("n_shared").cast("double") / col("n_s2")).as("containment_s2"),
        (col("n_shared").cast("double") /
          (col("n_s1") + col("n_s2") - col("n_shared"))).as("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Standing source-shingle index: append a batch's distinct
    * (source, hash128) shingle rows, hash-clustered per appended file
    * (repartition + sort by h1, the [[appendFingerprintIndex]] layout) so
    * census scans stream sorted row groups. Hash-only rows — corpus text
    * never reaches the index. An empty or missing `dir` is a new index; a
    * rebuild writes to a new directory.
    *
    * Blind append — no read-modify-write, so concurrent appenders and
    * at-least-once redelivery are safe by construction: rows the standing
    * index already holds are absorbed by [[sourceOverlapCensus]]'s
    * per-hash `collect_set` (the [[appendBlockIndex]] discipline; here the
    * reader's aggregate, not a semi-join, supplies the idempotence).
    * Cost ∝ the batch's shingles, never the corpus. */
  def appendSourceShingleIndex(docs: DataFrame, dir: String, n: Int = 3): Unit =
    sourceShingleRows(docs, n)
      .repartition(col("h1")).sortWithinPartitions(col("h1"))
      .write.mode("append").parquet(dir)

  /** Serve the pairwise overlap matrix from the standing index: one
    * hash-only index co-scan + the |sources|²-bounded census — no
    * tokenization, no text, no corpus rescan. After any append sequence
    * this is EXACTLY [[sourceOverlap]] of the union corpus (set union is
    * order-free, so unlike the first-instance screens there is no
    * monotone-id contract to honor — any arrival order, any batching,
    * any redelivery gives the identical matrix). */
  def sourceOverlapFromIndex(spark: org.apache.spark.sql.SparkSession,
                             dir: String): DataFrame =
    sourceOverlapCensus(
      FileFormats.readParquet(spark, dir).select(col("source"), col("h1"), col("h2")))

  /** Exact dedup: every doc mapped to the smallest doc_id sharing its
    * normalized text. The shuffle carries only (hash128, doc_id) — never the
    * document bodies: texts are reduced map-side to a two-seed 128-bit
    * xxhash64 pair (collision odds ~n²/2¹²⁹ — negligible at any corpus
    * size), grouped to the min doc_id per text, and joined back.
    *
    * NULL-text docs are their OWN canonical ([[urlDedup]]'s posture:
    * unknown content must never collapse — `xxhash64` skips NULL inputs,
    * so without the carve-out every failed fetch would share one seed
    * hash and a NULL-heavy crawl would read as ~100% duplicated,
    * poisoning [[hostDupStats]].dup_share and zeroing [[crawlBudget]]
    * for hosts that should be retried, not block-listed). */
  def exact(docs: DataFrame): DataFrame = {
    val norm = normText(col("text"))
    val hashed = docs.select(col("doc_id"), norm.isNull.as("__nul"),
      xxhash64(norm).as("__h1"), xxhash64(lit(1L), norm).as("__h2"))
    val known = hashed.filter(!col("__nul"))
    val canon = known.groupBy(col("__h1"), col("__h2"))
      .agg(min(col("doc_id")).as("canonical_id"))
    known.join(canon, Seq("__h1", "__h2"))
      .select(col("doc_id"), col("canonical_id"),
              (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .unionByName(hashed.filter(col("__nul"))
        .select(col("doc_id"), col("doc_id").as("canonical_id"),
                lit(false).as("is_dup")))
  }

  /** Normalized host from a URL column — the crawl pipeline's unit of
    * action (block lists, politeness budgets, per-domain dup/quality
    * read-outs all key on the host, not the full URL). Pure codegen'd
    * regexp chain, no UDF: lowercase (scheme and host are
    * case-insensitive), strip the scheme, cut everything from the first
    * path/query/fragment delimiter, strip userinfo, strip an explicit
    * port, strip one leading `www.` label. Scheme-less inputs
    * (`example.com/path`) pass through the same chain unchanged by the
    * scheme step. NULL url → NULL host. */
  def hostOf(url: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(url), "^[a-z][a-z0-9+.-]*://", ""),
            "[/?#].*$", ""),
          "^[^@]*@", ""),
        ":[0-9]+$", ""),
      "^www\\.", "")

  /** Canonical URL — the form crawl frontiers and URL-level dedup key on
    * (the same fetch reached through tracking-decorated, re-ordered,
    * www-prefixed or trailing-slashed variants must collapse BEFORE text
    * is ever fetched or compared). Pure codegen'd expression chain, no
    * UDF, every rule deterministic and oracle-replayable:
    *   1. fragment dropped (`#...` is client-side only);
    *   2. tracking params dropped (`utm_*`, `gclid`, `fbclid`) and the
    *      surviving query params SORTED (param order is
    *      semantics-neutral for idempotent GETs — the crawl assumption);
    *   3. scheme://authority lowercased (case-insensitive per RFC 3986;
    *      path case is preserved — paths ARE case-sensitive);
    *   4. default ports dropped (https :443, http :80) and one leading
    *      `www.` label dropped;
    *   5. one trailing path slash dropped.
    * Scheme-less inputs skip the authority rules (nothing matches) and
    * still get fragment/query/trailing-slash normalization. Userinfo is
    * PRESERVED (it changes what is fetched, unlike [[hostOf]]'s
    * analytics grouping) but does not block the port/www rules — the
    * default-port and www patterns allow an optional `user:pw@` prefix,
    * so `https://u:pw@a.com:443` still collapses with
    * `https://u:pw@a.com`. NULL url → NULL. */
  def urlNormalize(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base = regexp_replace(noFrag, "\\?.*$", "")
    val query = regexp_extract(noFrag, "\\?(.*)$", 1)
    val keptQ = array_join(
      array_sort(filter(split(query, "&"), p =>
        p =!= "" && !p.rlike("^(utm_[^=]*|gclid|fbclid)(=|$)"))), "&")
    val authRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*"
    val auth = lower(regexp_extract(base, s"($authRe)", 1))
    val rest = regexp_replace(regexp_replace(base, authRe, ""), "/$", "")
    val authNorm = regexp_replace(
      regexp_replace(
        regexp_replace(auth, "^(https://(?:[^/@]*@)?[^:/]*):443$", "$1"),
        "^(http://(?:[^/@]*@)?[^:/]*):80$", "$1"),
      "^([a-z][a-z0-9+.-]*://(?:[^/@]*@)?)www\\.", "$1")
    concat(authNorm, rest,
      when(keptQ =!= "", concat(lit("?"), keptQ)).otherwise(lit("")))
  }

  /** URL-level dedup: every doc mapped to the smallest doc_id sharing its
    * [[urlNormalize]]d URL — the cheapest dedup rung of all (no text is
    * read, let alone hashed; a recrawl/variant-URL duplicate is dropped
    * before fetch-side storage is even charged). Docs whose URL is NULL
    * are their own canonical (unknown provenance must never collapse).
    *
    * 100 TB shape: one scan, one (canon_url, doc_id)-keyed shuffle with
    * map-side min, join back on the same key — the [[exact]] plan with
    * the canonical URL standing in for the text hash. */
  def urlDedup(docs: DataFrame): DataFrame = {
    val withC = docs.select(col("doc_id"), urlNormalize(col("url")).as("canon_url"))
    val known = withC.filter(col("canon_url").isNotNull)
    val first = known.groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("canonical_id"))
    known.join(first, Seq("canon_url"))
      .select(col("doc_id"), col("canon_url"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .unionByName(withC.filter(col("canon_url").isNull)
        .select(col("doc_id"), col("canon_url"),
          col("doc_id").as("canonical_id"), lit(false).as("is_dup")))
  }

  /** Crawl-budget allocation from the per-host health read-out — the
    * ACTION [[hostDupStats]]'s scaladoc promises ("a domain that is
    * mostly exact copies or mostly gate-dropped text gets its crawl
    * budget cut"): score each host keep_rate × (1 − dup_share) — the
    * fraction of its fetches that yield NEW, gate-passing text — and
    * allocate budget shares proportionally. Hosts scoring 0 (all dups,
    * or nothing passes the gate) get share 0: the block-list read.
    *
    * Determinism: scores are IEEE products of the stats' already-exact
    * ratios; the global total accumulates score in DECIMAL(38,6) (exact,
    * order-free) and each share is ONE double divide — hash-replayable
    * by any engine. The totals frame is one row, broadcast into a
    * |hosts|-bounded join: nothing here scales with the corpus, only
    * with the host census.
    *
    * @param hostStats [[hostDupStats]] output */
  def crawlBudget(hostStats: DataFrame): DataFrame = {
    val D = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    val scored = hostStats.select(col("host"), col("n_docs"),
      (col("keep_rate") * (lit(1.0) - col("dup_share"))).as("score"))
    val total = scored.agg(
      sum(col("score").cast(D)).cast("double").as("__total"))
    scored.crossJoin(broadcast(total))
      .select(col("host"), col("n_docs"), col("score"),
        when(col("__total") > 0, col("score") / col("__total"))
          .otherwise(lit(0.0)).as("budget_share"))
      .orderBy(col("host"))
  }

  /** Per-host fetch-retry read-out — the crawl-action family's missing
    * distinction (r19, VERDICT r18 item 8): [[crawlBudget]] scores every
    * unproductive host 0, but an ERROR-heavy host (fetches came back
    * empty — text NULL) is a transient-failure candidate that should be
    * REFETCHED, while a DUP-heavy host is serving copies and should have
    * its budget CUT. The [[exact]] NULL-text carve-out is what makes the
    * two readable at all: before it, a host of failed fetches read
    * dup_share ≈ 1 and landed in the block list. Per normalized host:
    * doc/error/dup/kept counts, the three shares, and the action —
    *   `retry` when err_share ≥ 0.5 (error-heavy wins: refetching is
    *   cheap and may recover the host's whole slice),
    *   `cut`   when dup_share ≥ 0.5 (error and dup classes are DISJOINT
    *   — a NULL-text doc is never a dup — so at most one rule fires at
    *   ≥ 0.5; the precedence only decides the exact .5/.5 tie),
    *   `keep`  otherwise.
    * Thresholds are plain double comparisons of exact count ratios —
    * hash-replayable. Same 100 TB shape as [[hostDupStats]]: hash-only
    * dup shuffle, one tokenize pass, |hosts|-bounded rollup.
    *
    * @param docs (doc_id, url, text) */
  def crawlRetrySplit(docs: DataFrame): DataFrame = {
    val hosts = docs.select(col("doc_id"), hostOf(col("url")).as("host"),
      col("text").isNull.as("fetch_err"))
    val dup = exact(docs).select(col("doc_id"), col("is_dup"))
    val gate = graft.ops.TextAnalysis.qualityFilter(docs)
      .select(col("doc_id"), col("keep"))
    hosts.join(dup, "doc_id").join(gate, Seq("doc_id"), "left")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("fetch_err"), 1L).otherwise(0L)).as("n_fetch_err"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
        sum(when(coalesce(col("keep"), lit(false)), 1L).otherwise(0L))
          .as("n_kept"))
      .select(col("host"), col("n_docs"), col("n_fetch_err"),
        (col("n_fetch_err").cast("double") / col("n_docs")).as("err_share"),
        col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_share"),
        col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs")).as("keep_rate"))
      .withColumn("action",
        when(col("err_share") >= 0.5, "retry")
          .when(col("dup_share") >= 0.5, "cut")
          .otherwise("keep"))
      .orderBy(col("host"))
  }

  /** Per-host duplication + quality rollup over a crawl slice — the
    * per-DOMAIN health dashboard (`sourceDupStats` is the per-source
    * twin; a crawl acts on hosts: a domain that is mostly exact copies or
    * mostly gate-dropped text gets its crawl budget cut). Per normalized
    * host ([[hostOf]]): doc count, corpus-wide exact-duplicate count and
    * share ([[exact]] — a doc is a dup if a smaller doc_id shares its
    * normalized text ANYWHERE in the corpus, so a host serving another
    * host's content still reads as duplicated), and the composite quality
    * gate's keep count/rate
    * ([[graft.ops.TextAnalysis.qualityFilter]]; docs the gate never saw —
    * empty/null text — count as kept=false, the curate-first posture).
    *
    * 100 TB shape: the dup flags shuffle (hash128, doc_id) only, the gate
    * is one tokenize pass keyed by doc_id, the final rollup is
    * |hosts|-bounded with map-side partials — no text ever shuffles and
    * nothing is corpus² at any stage.
    *
    * @param docs (doc_id, url, text) */
  def hostDupStats(docs: DataFrame): DataFrame = {
    val hosts = docs.select(col("doc_id"), hostOf(col("url")).as("host"))
    val dup = exact(docs).select(col("doc_id"), col("is_dup"))
    val gate = graft.ops.TextAnalysis.qualityFilter(docs)
      .select(col("doc_id"), col("keep"))
    hosts.join(dup, "doc_id").join(gate, Seq("doc_id"), "left")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup"),
           sum(when(coalesce(col("keep"), lit(false)), 1L).otherwise(0L))
             .as("n_kept"))
      .select(col("host"), col("n_docs"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_share"),
        col("n_kept"),
        (col("n_kept").cast("double") / col("n_docs")).as("keep_rate"))
      .orderBy(col("host"))
  }

  /** Per-host template-boilerplate read-out — [[hostDupStats]] ×
    * [[fuzzyBlockDedup]]'s natural join: which hosts serve near-identical
    * template blocks (navigation chrome, footers, counter/date-slotted
    * boilerplate), the read a crawler consults before block-listing a
    * domain or down-weighting its crawl budget. Per normalized host
    * ([[hostOf]]): doc count and the host's aggregate block survival
    * under the fuzzy (Hamming ≤ 1) block rule — total/removed blocks and
    * words, and the boilerplate rate (removed words / total words; NULL
    * for a host with no tokenized blocks at all). NULL-text docs carry no
    * blocks but still count in n_docs (the [[hostDupStats]] posture).
    *
    * 100 TB shape: exactly [[fuzzyBlockDedup]]'s (hash-only shuffles,
    * df-capped pair fan-out) plus one |hosts|-bounded rollup with
    * map-side partials — the host join adds a doc_id-keyed equi-join of
    * two doc-bounded frames, nothing corpus².
    *
    * @param docs (doc_id, url, text) */
  def hostBoilerplateRate(docs: DataFrame, blockWords: Int = 8,
                          maxDf: Int = 16): DataFrame = {
    val hosts = docs.select(col("doc_id"), hostOf(col("url")).as("host"))
    val stats = fuzzyBlockDedup(docs.select(col("doc_id"), col("text")),
      blockWords, maxDf)
    hosts.join(stats, Seq("doc_id"), "left")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_blocks"), lit(0L))).as("blocks_total"),
        sum(coalesce(col("n_removed"), lit(0L))).as("blocks_removed"),
        sum(coalesce(col("words_total"), lit(0L))).as("words_total"),
        sum(coalesce(col("words_removed"), lit(0L))).as("words_removed"))
      .select(col("host"), col("n_docs"), col("blocks_total"),
        col("blocks_removed"), col("words_total"), col("words_removed"),
        when(col("words_total") > 0,
          col("words_removed").cast("double") /
            col("words_total").cast("double")).as("boilerplate_rate"))
      .orderBy(col("host"))
  }

  /** CCNet-style block/paragraph-hash dedup (Wenzek et al., "CCNet",
    * LREC'20 §3.2 dedups paragraphs by SHA1 across shards): segment each
    * doc into consecutive `blockWords`-token blocks (partial tail kept),
    * keep only the globally FIRST instance of each distinct block (first =
    * smallest (doc_id, block_idx) — a total order any engine reproduces,
    * unlike CCNet's shard-arrival order), and report per doc how much
    * survives. Granularity sits between whole-doc [[exact]] and the
    * positional winnowing spans ([[spanDedup]]): exact block hits only, but
    * cheap — no candidate verification pass at all.
    *
    * Scale shape: one per-row block explode ([[TextAnalysis.ngrams]] at
    * stride `blockWords`, no window), then the shuffle carries only
    * (hash128, doc_id, block_idx, words) — never block text: blocks
    * reduce map-side to a two-seed 128-bit
    * xxhash64 pair ([[exact]]'s collision argument), the min-instance
    * groupBy is map-side combined, and the join back is hash-to-hash. A
    * corpus-boilerplate block (high df) is ONE grouped row after the
    * partial aggregate, so hot blocks cannot skew the shuffle.
    *
    * NULL-text docs emit no blocks and are ABSENT from the output (the
    * [[graft.ops.Similarity.hardNegatives]] "curate first" contract,
    * AdversarialSpec-pinned); empty docs tokenize to one empty block and
    * dedup against each other. */
  def blockDedup(docs: DataFrame, blockWords: Int = 8): DataFrame = {
    // blocks (tokenize + per-row block hashes) feeds the first-instance
    // groupBy AND the survival join — pinned so one invocation tokenizes once
    // (hash-only rows, corpus-block-bounded; the fuzzy twin's discipline)
    val blocks = InternalCaches.persistBounded(blockRows(docs, blockWords))
    val first = blocks.groupBy(col("__h1"), col("__h2"))
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("first_key"))
    blockStats(blocks.join(first, Seq("__h1", "__h2"))
      .withColumn("removed",
        struct(col("doc_id"), col("block_idx")) =!= col("first_key")))
  }

  /** Fuzzy (Hamming ≤ 1) twin of [[blockDedup]] — near-identical
    * boilerplate blocks that hash differently by ONE token (a counter, a
    * date, a name slot in a template) defeat exact block hashing; this
    * catches them without any pairwise scan of the corpus.
    *
    * Two rules, both order-deterministic and non-recursive:
    *  1. EXACT (the [[blockDedup]] rule, uncapped): every non-first
    *     instance of a block's content is removed — first = smallest
    *     (doc_id, block_idx), so hot boilerplate is still fully deduped
    *     no matter how often it repeats;
    *  2. FUZZY, among the distinct contents' FIRST instances only: a
    *     first instance is removed (all its instances with it) when an
    *     EARLIER first instance of the same width differs from it in at
    *     most one token position — whether or not that earlier block is
    *     itself dominated (non-recursive, so the verdict never depends
    *     on evaluation order).
    *
    * Candidate generation is the exact pigeonhole, not a probabilistic
    * band: equal-width blocks at Hamming ≤ 1 must agree exactly on one
    * of their two halves, so candidates come from an equality join on
    * (half index, width, half hashes) — recall is total at the
    * threshold, precision restored by the per-position verify. Buckets
    * with more than `maxDf` distinct first instances are skipped (the
    * [[spanDedup]] df-cap posture: a half THAT common is template
    * machinery whose instances exact-rule dedup already absorbs; the cap
    * bounds pair fan-out at buckets × C(maxDf, 2) and the oracle replays
    * it verbatim).
    *
    * 100 TB shape: tokens reduce map-side to xxhash64 per position (the
    * [[exact]] hash≡string collision contract — the oracle compares the
    * token strings); every shuffle carries (≤ blockWords longs + ids),
    * never text; the only joins are equi-joins on half arrays, and the
    * domination probe back onto instances is a broadcast-sized
    * first-instance table at any realistic near-dup density.
    *
    * Output: the [[blockDedup]] per-doc survival schema (n_blocks,
    * n_removed, words_total, words_removed, kept_ratio). */
  def fuzzyBlockDedup(docs: DataFrame, blockWords: Int = 8,
                      maxDf: Int = 16): DataFrame = {
    // inst (tokenize + per-token block hashes — the expensive subtree)
    // feeds the firsts groupBy AND the final survival join; firsts feeds
    // both band halves AND the final join. Unpinned, one invocation
    // evaluated inst FOUR times (r18: the PQ-subvector/minhash recompute
    // class) — both are corpus-block-bounded hash frames, pinned lazily
    // through the bounded LRU.
    val inst = InternalCaches.persistBounded(docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"), posexplode(TextAnalysis.ngrams(col("t"),
        blockWords, blockWords, g => transform(g, t => xxhash64(t))))
        .as(Seq("block_idx", "ph")))
      .select(col("doc_id"), col("block_idx").cast("long").as("block_idx"),
        size(col("ph")).cast("long").as("bw"), col("ph")))
    val firsts = InternalCaches.persistBounded(inst.groupBy(col("ph"))
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("fkey")))
    val nl = expr("(size(ph)+1) div 2")
    // width-1 blocks (a lone tail token) are EXCLUDED from the fuzzy
    // rule: their second half is empty, so every distinct 1-token tail
    // would "agree" on it and dominate every other — Hamming 1 between
    // single tokens is "shares nothing", not "near-identical template".
    // The exact rule still dedups identical tails; the oracle replays
    // the same bw >= 2 restriction.
    val fuzzable = firsts.filter(size(col("ph")) >= 2)
    val bands = fuzzable
      .select(col("fkey"), col("ph"), lit(0).as("hx"),
        slice(col("ph"), lit(1), nl).as("half"))
      .unionByName(fuzzable.select(col("fkey"), col("ph"), lit(1).as("hx"),
        slice(col("ph"), nl + 1, size(col("ph")) - nl).as("half")))
      .withColumn("bwk", size(col("ph")))
    val dfreq = bands.groupBy(col("hx"), col("bwk"), col("half"))
      .agg(count(lit(1)).as("df"))
    val ok = bands.join(dfreq.filter(col("df") <= maxDf),
      Seq("hx", "bwk", "half"))
    val cand = ok.select(col("hx"), col("bwk"), col("half"),
        col("fkey").as("ka"), col("ph").as("pa"))
      .join(ok.select(col("hx"), col("bwk"), col("half"),
        col("fkey").as("kb"), col("ph").as("pb")), Seq("hx", "bwk", "half"))
      .filter(col("ka") < col("kb"))
      .select(col("ka"), col("kb"), col("pa"), col("pb")).distinct()
    val ham = aggregate(
      zip_with(col("pa"), col("pb"),
        (x, y) => when(x === y, 0).otherwise(1)),
      lit(0), (acc, x) => acc + x)
    val dominated = cand.filter(ham <= 1)
      .select(col("kb").as("fkey")).distinct().withColumn("dom", lit(true))
    blockStats(inst
      .join(firsts, Seq("ph"))
      .join(dominated, Seq("fkey"), "left")
      .withColumn("removed",
        struct(col("doc_id"), col("block_idx")) =!= col("fkey") ||
          coalesce(col("dom"), lit(false))))
  }

  /** One row per `blockWords`-token block: (doc_id, block_idx, hash128
    * pair, block word count). Shared by the one-shot [[blockDedup]] and
    * the standing-index arrival path ([[incrementalBlockDedup]]). */
  def blockRows(docs: DataFrame, blockWords: Int): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).as("n_toks"),
        posexplode(TextAnalysis.ngrams(col("t"), blockWords, blockWords))
          .as(Seq("block_idx", "blk")))
      .select(col("doc_id"), col("block_idx").cast("long").as("block_idx"),
        xxhash64(col("blk")).as("__h1"), xxhash64(lit(1L), col("blk")).as("__h2"),
        least(lit(blockWords.toLong),
          col("n_toks") - col("block_idx") * blockWords).as("bw"))

  /** Per-doc survival aggregate over marked block rows (needs `removed`). */
  private def blockStats(marked: DataFrame): DataFrame =
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("removed").cast("long")).as("n_removed"),
        sum(col("bw")).as("words_total"),
        sum(when(col("removed"), col("bw")).otherwise(lit(0L))).as("words_removed"))
      .withColumn("kept_ratio",
        (col("words_total") - col("words_removed")).cast("double") /
          col("words_total").cast("double"))

  /** Standing block-hash index: append a batch's distinct hash128 block
    * pairs. The index is every block hash seen so far — the state an
    * ingestion pipeline screens arrivals against. Hash-only rows (16 bytes
    * + ids of nothing): corpus text never reaches the index. An empty or
    * missing `dir` is a new index; a rebuild writes to a new directory.
    *
    * Blind append — NO read-modify-write, so concurrent appenders and
    * at-least-once redelivery are safe by construction: duplicate hash
    * rows are harmless because every reader ([[incrementalBlockDedup]])
    * probes with a semi-join, which is idempotent in the probe table —
    * the same discipline the span fingerprint index adopted after the
    * r12 double-append corruption. */
  def appendBlockIndex(docs: DataFrame, dir: String, blockWords: Int = 8): Unit =
    blockRows(docs, blockWords).select(col("__h1"), col("__h2")).distinct()
      .write.mode("append").parquet(dir)

  /** Arrival screen against the standing block index: a block instance is
    * removed if its hash is ALREADY INDEXED (some earlier doc owns it) or
    * an earlier (doc_id, block_idx) instance exists within this batch.
    * Under monotone ingestion (arrival ids above every indexed id — the
    * ingestion contract) this is EXACTLY the corpus-wide [[blockDedup]]
    * first-instance rule restricted to arrival docs: an indexed hash's
    * global first instance has a smaller doc_id than any arrival, and an
    * unindexed hash's first instance is the batch minimum. Cost ∝ batch
    * blocks + one semi-join probe of the hash-only index — never the
    * corpus. */
  def incrementalBlockDedup(spark: org.apache.spark.sql.SparkSession,
                            dir: String, arrivals: DataFrame,
                            blockWords: Int = 8): DataFrame = {
    val idx = FileFormats.readParquet(spark, dir).select(col("__h1"), col("__h2"))
    // batch-bounded; feeds batchFirst AND the marked join (blockDedup's pin)
    val blocks = InternalCaches.persistBounded(blockRows(arrivals, blockWords))
    val batchFirst = blocks.groupBy(col("__h1"), col("__h2"))
      .agg(min(struct(col("doc_id"), col("block_idx"))).as("first_key"))
    val marked = blocks.join(batchFirst, Seq("__h1", "__h2"))
      .join(idx.withColumn("__indexed", lit(true)).distinct(),
        Seq("__h1", "__h2"), "left")
      .withColumn("removed",
        coalesce(col("__indexed"), lit(false)) ||
          struct(col("doc_id"), col("block_idx")) =!= col("first_key"))
    blockStats(marked)
  }


  /** Content-defined chunking dedup (Rabin-fingerprint lineage: LBFS,
    * Muthitacharoen et al. SOSP'01): a token position ends a chunk iff the
    * portable md5 bucket of the k-token gram ENDING there ≡ 0 mod
    * `divisor` (expected chunk length ≈ divisor tokens), then only the
    * globally-first instance of each distinct chunk survives — the
    * shift-robust sibling of [[blockDedup]]: an insertion early in a doc
    * shifts every fixed block, but CDC boundaries re-synchronize at the
    * next content cut, so shared suffixes still dedup (measured: 287/500
    * sf0.01 docs carry a removed chunk vs 53 for fixed blocks).
    *
    * Deliberately the STATELESS cut rule (no min/max chunk clamps):
    * classic CDC's min-size clamp makes each cut depend on the previous
    * one — an inherently sequential scan that cannot split across
    * executors — while the content-only rule is embarrassingly parallel
    * (any token's cut bit is a pure function of its k-gram). The price is
    * occasional tiny chunks whose duplication is noise; they are visible
    * in the stats rather than silently clamped. Scale shape: per-doc
    * windows (doc-bounded; kept, as a chunk index is a running sum of cut
    * bits over positions, not a gram), chunk text reassembled doc-locally
    * via a co-partitioned join back to the token arrays, and the global
    * first-instance shuffle carries only (hash128, doc_id, chunk_idx, len)
    * — [[exact]]'s collision argument, [[blockDedup]]'s no-skew argument.
    * NULL-text docs are absent from the output
    * ([[blockDedup]]'s contract, AdversarialSpec-pinned). */
  def cdcChunkDedup(docs: DataFrame, k: Int = 3, divisor: Int = 8): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val gram = concat_ws(" ",
      ((k - 1) to 0 by -1).map(j => lag(col("t"), j).over(byDoc)): _*)
    val cut = (col("pos") >= (k - 1)) &&
      (conv(substring(md5(gram.cast("binary")), 1, 15), 16, 10).cast("long")
        % divisor) === 0
    val chunks = docs
      .select(col("doc_id"), posexplode(TextAnalysis.tokens(col("text"))))
      .toDF("doc_id", "pos", "t")
      .withColumn("cut", cut.cast("long"))
      .withColumn("chunk_idx", coalesce(
        sum(col("cut")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(min(col("pos")).as("st"), count(lit(1)).as("ln"))
    // hashed (two tokenize passes + the cut-rule windows) feeds the
    // first-instance groupBy AND the survival join — pinned, one eval
    val hashed = InternalCaches.persistBounded(chunks
      .join(docs.select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks")), Seq("doc_id"))
      .select(col("doc_id"), col("chunk_idx"), col("ln"),
        array_join(slice(col("toks"), col("st") + 1, col("ln").cast("int")), " ").as("blk"))
      .select(col("doc_id"), col("chunk_idx"), col("ln"),
        xxhash64(col("blk")).as("__h1"), xxhash64(lit(1L), col("blk")).as("__h2")))
    val first = hashed.groupBy(col("__h1"), col("__h2"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first_key"))
    hashed.join(first, Seq("__h1", "__h2"))
      .withColumn("removed",
        struct(col("doc_id"), col("chunk_idx")) =!= col("first_key"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("removed").cast("long")).as("n_removed"),
        sum(col("ln")).as("tokens_total"),
        sum(when(col("removed"), col("ln")).otherwise(lit(0L))).as("tokens_removed"))
      .withColumn("kept_ratio",
        (col("tokens_total") - col("tokens_removed")).cast("double") /
          col("tokens_total").cast("double"))
  }

  /** Exact n-gram Jaccard similarity join via lossless prefix filtering
    * (Chaudhuri et al., SSJoin; Bayardo et al., WWW'07 "Scaling Up All
    * Pairs"): order each shingle set by a global total order, keep only the
    * first |s|-ceil(t*|s|)+1 shingles as the "prefix" — two sets with
    * Jaccard >= t MUST share a prefix shingle — then join on prefix
    * shingles, dedupe candidates, and verify exact Jaccard on just those.
    *
    * The global order is **document-frequency ascending** (rarest-first,
    * ties by hash), the classic anti-skew refinement: prefixes then hold
    * each document's RAREST shingles, so candidate-join buckets are bounded
    * by the df of rare shingles instead of blowing up n²-style on stopword
    * shingles (a random-hash order puts frequent shingles in prefixes and
    * creates hot buckets on skewed real text). Costs one extra counting
    * pass — two narrow shuffles (df count, df re-attach) — which is the
    * right trade at 100 TB.
    *
    * The prefix guarantee holds under ANY fixed total order, so the pair
    * output is identical to the random-order formulation (and to the
    * all-pairs oracle); only the candidate count changes.
    */
  def ngramJaccard(docs: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // ONE tokenize+explode pass: the hashed shingle table feeds the
    // sizes, the df table, the prefix filter, and both verification joins
    // (six consumers). Left lazy, every consumer re-derives the subtree
    // and cross-stage exchange reuse is up to AQE's scheduling — measured
    // BIMODAL 2.5–5.4s run-to-run on identical input (r14). persist()
    // pins one evaluation of hash-only rows that every branch shares (the
    // mutualKnn discipline — lazy, so no construction-time jobs, and the
    // lineage stays visible to the registry-wide scan-pruning audit,
    // unlike a checkpoint's opaque ExistingRDD root).
    val ex = InternalCaches.persistBounded(shingleRows(docs, n)
      .select(col("doc_id"), xxhash64(col("g")).as("h")))
    val sz = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefixes = ex.join(dfreq, "h")
      .withColumn("rk", row_number().over(byRarity))
      .join(sz, "doc_id")
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select(col("doc_id"), col("sz"), col("rk"), col("h"))
    val a = prefixes.toDF("d1", "sz1", "rk1", "h")
    val b = prefixes.toDF("d2", "sz2", "rk2", "h")
    // positional filter (PPJoin, Xiao et al. WWW'08): a token matched at
    // sorted positions (rk1, rk2) bounds the overlap by
    // 1 + min(sz1-rk1, sz2-rk2); J >= t needs overlap >= t/(1+t)·(sz1+sz2).
    // The pair's FIRST common token in the global order always sees a valid
    // bound, so keeping pairs where ANY match passes is lossless (the 1e-9
    // slack only ever relaxes the bound against float rounding).
    val minOverlap =
      ceil(lit(threshold / (1 + threshold)) * (col("sz1") + col("sz2")) - lit(1e-9))
    val candidates = a.join(b,
        a("h") === b("h") && a("d1") < b("d2") &&
        b("sz2") >= ceil(lit(threshold) * a("sz1")) &&
        a("sz1") >= ceil(lit(threshold) * b("sz2")) &&
        lit(1) + least(col("sz1") - col("rk1"), col("sz2") - col("rk2")) >= minOverlap)
      .select(col("d1"), col("d2")).distinct()
    verifyJaccardHashed(candidates, ex, threshold)
  }

  /** Exact-Jaccard verification of candidate (d1, d2) pairs over the
    * hashed (doc_id, h) shingle table, by inclusion-exclusion over its
    * EXPLODED rows: |A∩B| counted with two equi-joins on (doc,
    * shingle-hash), then J = |A∩B| / (|A| + |B| - |A∩B|). No per-doc
    * arrays are ever materialized or shipped — the array formulation
    * duplicates a hub document's whole shingle set onto every pair it
    * appears in, which is exactly the row a dedup job meets most (one
    * canonical doc × thousands of near-copies). Zero-intersection
    * candidates drop out of the count join, which is semantically free:
    * they cannot clear any positive threshold. Callers that materialize
    * the hashed frame once (ngramJaccard's pinned checkpoint) pass it
    * directly so verification reads the same blocks. */
  private def verifyJaccardHashed(candidates: DataFrame, ex: DataFrame,
                                  threshold: Double): DataFrame = {
    val sz = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = candidates
      .join(ex.toDF("d1", "h"), "d1")
      .join(ex.toDF("d2", "h"), Seq("d2", "h"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("inter"))
    inter
      .join(sz.toDF("d1", "sz1"), "d1")
      .join(sz.toDF("d2", "sz2"), "d2")
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** DIRECTIONAL containment join: ordered pairs with
    * |A∩B| / |A| ≥ threshold — the asymmetric near-dup [[ngramJaccard]]
    * cannot express (a short doc quoted inside a long one has tiny Jaccard
    * but containment ≈ 1): quote extraction, subset contamination, "is
    * this doc mostly inside the corpus already".
    *
    * Prefix filtering adapts losslessly (same pigeonhole as SSJoin, on the
    * CONTAINED side only): if |A∩B| ≥ ceil(t·|A|), the intersection cannot
    * hide entirely in A's last ceil(t·|A|) − 1 ordered shingles, so A's
    * first |A| − ceil(t·|A|) + 1 (rarest-first) must hold a shared one —
    * joining A-prefixes against the FULL shingle table finds every
    * qualifying pair. The super side has no prefix (B may be arbitrarily
    * large; only |B| ≥ ceil(t·|A|) prunes), so candidate buckets are
    * bounded by the df of PREFIX shingles — the rarest-first order is what
    * keeps a corpus-stopword shingle out of the hot side of this join.
    * Verification reuses the exploded-rows intersection count (no per-doc
    * arrays shipped); the ratio compare runs on identical double operands
    * in both engines. */
  def containmentJoin(docs: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // ex feeds ~6 branches (sizes, df census, prefix table, candidate
    // probe, both verification joins) but stays LAZY on purpose: all six
    // branches carry the IDENTICAL distinct-shuffle subtree, so within the
    // one action ReuseExchange computes it once, and when ngramJaccard/
    // minhashLsh pinned the same canonical frame earlier in a session
    // CacheManager serves it across actions too. An explicit pin here was
    // measured (r19): it helped the 1× entry ~1.5× but cost the ×4 stress
    // entry ~1.5–1.9× (IMR materialization replaces the fused codegen
    // pipeline and the exchange reuse) — the stress corpus is the scale
    // posture, so lazy wins.
    val ex = shingleRows(docs, n)
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val sz = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val dfreq = ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefixes = ex.join(dfreq, "h")
      .withColumn("rk", row_number().over(byRarity))
      .join(sz, "doc_id")
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select(col("doc_id").as("d_sub"), col("sz").as("n_sub"), col("h"))
    val candidates = prefixes
      .join(ex.toDF("d_super", "h"), "h")
      .filter(col("d_sub") =!= col("d_super"))
      .select(col("d_sub"), col("n_sub"), col("d_super")).distinct()
      .join(sz.toDF("d_super", "sz_super"), "d_super")
      .filter(col("sz_super") >= ceil(lit(threshold) * col("n_sub")))
      .select(col("d_sub"), col("n_sub"), col("d_super"))
    val inter = candidates
      .join(ex.toDF("d_sub", "h"), "d_sub")
      .join(ex.toDF("d_super", "h"), Seq("d_super", "h"))
      .groupBy(col("d_sub"), col("d_super"), col("n_sub"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("containment",
        col("inter").cast("double") / col("n_sub").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("d_sub"), col("d_super"), col("n_sub"), col("inter"),
        col("containment"))
  }

  /** Standing containment index under `dir`: absorb a batch into three
    * hash-only tables (corpus text never reaches the index):
    *   - `shingles/` (doc_id, h): each doc's DISTINCT shingle hashes
    *   - `sizes/`    (doc_id, sz): each doc's shingle-set size
    *   - `df/`       (h, df): per-shingle document-frequency PARTIALS
    * An empty or missing `dir` is a new index; a rebuild writes to a new
    * directory. All three absorb batches by BLIND APPEND — no
    * read-modify-write, so concurrent appenders are safe: a doc's
    * shingle and size rows are written once (arrival ids are new — the
    * ingestion contract), and df partials are ADDITIVE across disjoint
    * document batches (each doc counts once), summed per hash by readers
    * — the [[gramDf]] posture. Replay tolerance: a re-appended batch
    * duplicates rows, but [[incrementalContainmentScreen]] reads sizes
    * through max() and probe rows through distinct(), and a double-counted
    * df only perturbs the (lossless-under-any-order) prefix ORDER — pairs
    * are unchanged, the [[appendBlockIndex]] discipline. */
  def appendContainmentIndex(docs: DataFrame, dir: String, n: Int = 3): Unit = {
    // batch-bounded; feeds all three writes — left lazy each write
    // re-shingles the batch
    val ex = shingleRows(docs, n)
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .localCheckpoint(true)
    // hash-clustered layout (the [[appendFingerprintIndex]] discipline):
    // probe-side scans of a hash-sorted table skip row groups via parquet
    // min/max; same for the id-keyed sizes table
    ex.repartition(col("h")).sortWithinPartitions(col("h"))
      .write.mode("append").parquet(s"$dir/shingles")
    ex.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      .sortWithinPartitions(col("doc_id"))
      .write.mode("append").parquet(s"$dir/sizes")
    ex.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .sortWithinPartitions(col("h"))
      .write.mode("append").parquet(s"$dir/df")
    Checkpoints.unpersist(ex)
  }

  /** Incremental directional containment screen — the arrival path of
    * [[containmentJoin]], the quote/excerpt ingest gate: each arrival doc
    * A is checked against the standing corpus for |A ∩ B| / |A| ≥
    * `threshold` with B any indexed doc ("is this arrival already mostly
    * inside the corpus?"). Output shape = [[containmentJoin]] with
    * `d_sub` always an arrival and `d_super` always standing; pair
    * membership is EXACTLY the batch operator's restricted to such pairs
    * (containment of a pair depends on nothing but the pair — DocQueries
    * pins the identity against the corpus-wide oracle, DedupSpec replays
    * it across absorb cycles).
    *
    * Cost ∝ batch + candidates, never corpus: the contained side is the
    * ARRIVAL, so the lossless pigeonhole prefix (see [[containmentJoin]]
    * — valid under ANY fixed per-doc order) stays on the probe side,
    * ordered rarest-first by STANDING df so hot corpus shingles never
    * enter the probe. The standing tables are touched only through
    * broadcast hash probes and id semi-joins: `df/` and `shingles/` rows
    * are fetched for the arrivals'/prefixes' hashes alone, and
    * verification reads only candidate-super rows. A shingle the index
    * has never seen has df 0 — it sorts into the prefix first and probes
    * nothing. Arrival↔arrival peer pairs are deliberately OUT OF SCOPE —
    * the gate asks "is this arrival inside the CORPUS", not "do these
    * arrivals overlap each other" (run [[containmentJoin]] on the batch
    * for that); once the batch is absorbed
    * ([[appendContainmentIndex]]), any LATER arrival containing a batch
    * peer is caught normally, so across a run the emitted pairs are
    * exactly those whose sub side arrived strictly after its super side.
    * The `shingles/` and `sizes/` reads skip the arrivals' own doc_ids,
    * so a probe re-run after the batch was absorbed (an engine retry)
    * emits the same pairs; the df counts the retry inflated only reorder
    * the lossless prefix.
    *
    * The arrival shingles and candidate pairs are eagerly materialized
    * (batch-/candidate-bounded, multi-branch consumers — the
    * [[incrementalSpanScreen]] discipline). */
  def incrementalContainmentScreen(spark: org.apache.spark.sql.SparkSession,
                                   dir: String, arrivals: DataFrame,
                                   n: Int = 3,
                                   threshold: Double = 0.8): DataFrame = {
    // the standing side never includes the arrivals themselves: an
    // engine retry probes after its own absorb landed, and their index
    // rows would pair each arrival with itself and with its batch peers
    val arrived = broadcast(arrivals.select(col("doc_id")))
    val idxSh = FileFormats.readParquet(spark, s"$dir/shingles")
      .join(arrived, Seq("doc_id"), "left_anti")
    // max() collapses replayed size rows (same value re-appended)
    val idxSz = FileFormats.readParquet(spark, s"$dir/sizes")
      .join(arrived, Seq("doc_id"), "left_anti")
      .groupBy(col("doc_id")).agg(max(col("sz")).as("sz_super"))
    // batch-bounded; feeds prefix + verification. Lazy bounded persist,
    // not eager localCheckpoint: the SQL-surface resolution rule invokes
    // this operator at ANALYSIS time, so construction must run no jobs
    // (EXPLAIN of graft_containment_screen stays free — ExtensionsSpec),
    // while the persist still evaluates the arrival subtree once for all
    // consumer branches at first action.
    val exA = InternalCaches.persistBounded(shingleRows(arrivals, n)
      .select(col("doc_id"), xxhash64(col("g")).as("h")))
    // standing df for exactly the hashes the arrivals carry (broadcast
    // probe — batch-bounded result), summed over the append partials
    val dfProbe = FileFormats.readParquet(spark, s"$dir/df")
      .join(broadcast(exA.select(col("h")).distinct()), "h")
      .groupBy(col("h")).agg(sum(col("df")).as("df"))
    val szA = exA.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val byRarity = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    val prefixes = exA.join(dfProbe, Seq("h"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(byRarity))
      .join(szA, "doc_id")
      .filter(col("rk") <= col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
      .select(col("doc_id").as("d_sub"), col("sz").as("n_sub"), col("h"))
    // standing rows carrying a prefix shingle (broadcast hash probe);
    // distinct() collapses replayed index rows
    val candRows = idxSh
      .join(broadcast(prefixes.select(col("h")).distinct()), "h")
      .select(col("doc_id").as("d_super"), col("h")).distinct()
    val candidates = prefixes
      .join(candRows, "h")
      .select(col("d_sub"), col("n_sub"), col("d_super")).distinct()
      .join(idxSz.withColumnRenamed("doc_id", "d_super"), "d_super")
      .filter(col("sz_super") >= ceil(lit(threshold) * col("n_sub")))
      .select(col("d_sub"), col("n_sub"), col("d_super"))
      .transform(c => InternalCaches.persistBounded(c)) // candidate-bounded; feeds prune + verify
    // verification: exact intersection over the candidate supers' index
    // rows (id semi-join prune) and the arrivals' own shingles
    val superRows = idxSh
      .join(candidates.select(col("d_super").as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("d_super"), col("h")).distinct()
    val inter = candidates
      .join(exA.toDF("d_sub", "h"), "d_sub")
      .join(superRows, Seq("d_super", "h"))
      .groupBy(col("d_sub"), col("d_super"), col("n_sub"))
      .agg(count(lit(1)).as("inter"))
    inter
      .withColumn("containment",
        col("inter").cast("double") / col("n_sub").cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("d_sub"), col("d_super"), col("n_sub"), col("inter"),
        col("containment"))
  }

  /** MinHash+LSH near-dup join: shingle → 128-perm minhash signature → 32
    * bands of 4 rows → band-bucket join → exact-Jaccard verification.
    *
    * Hash family member i is xxhash64 re-keyed by (base shingle hash, i,
    * seed) — an independent-ish permutation per slot without the classic
    * a*x+b modular form (which wraps 64-bit arithmetic and trips ANSI
    * overflow checks).
    *
    * Shingles arrive as [[shingleRows]] (per-row n-grams, no window);
    * per-doc hash arrays are collected with one narrow doc_id shuffle
    * (longs only) and the perms×shingles permutation loop runs in the
    * native codegen'd
    * [[graft.functions.NativeExpressions.MinHashSignature]] expression (the
    * higher-order `transform`/`array_min` formulation is CodegenFallback
    * and walks the array once per permutation, interpreted).
    *
    * Recall: with b=32, r=4 a pair at J=0.8 is missed with probability
    * (1-0.8^4)^32 ≈ 5e-8 — effectively total recall at the threshold, and
    * precision is exact because candidates are verified. The candidate
    * shuffle carries only (band, bandHash, doc_id) — never signatures or
    * text. */
  def minhashLsh(docs: DataFrame, n: Int = 3, threshold: Double = 0.8,
                 bands: Int = 32, rows: Int = 4, seed: Long = 42L): DataFrame = {
    // the hashed shingle table feeds banding AND both verification joins
    // (plus the size census) — five consumers of one corpus-sized
    // tokenize+explode subtree. Left lazy, each consumer re-derives
    // it and cross-stage exchange reuse is up to AQE's scheduling (the
    // ngramJaccard bimodality, r14); the bounded lazy persist pins one
    // evaluation (same canonical plan as ngramJaccard's prefix table, so
    // the two operators share blocks when run over the same corpus).
    val ex = InternalCaches.persistBounded(shingleRows(docs, n)
      .select(col("doc_id"), xxhash64(col("g")).as("h")))
    // band rows are consumed twice (both sides of the bucket self-join);
    // persisting them also spares the signature loop a second pass
    val banded = InternalCaches.persistBounded(
      bandRowsFromHashed(ex, bands, rows, seed))
    val l = banded.toDF("d1", "band", "band_hash")
    val r = banded.toDF("d2", "band", "band_hash")
    val candidates = l.join(r, Seq("band", "band_hash"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2")).distinct()
    verifyJaccardHashed(candidates, ex, threshold)
  }

  /** The LSH banding stage as exploded (doc_id, band, band_hash) rows — the
    * unit both the batch join ([[minhashLsh]]) and the persisted signature
    * index ([[appendSignatureIndex]]/[[incrementalMinhash]]) operate on. */
  def bandRows(docs: DataFrame, n: Int = 3,
               bands: Int = 32, rows: Int = 4, seed: Long = 42L): DataFrame =
    bandRowsFromHashed(
      shingleRows(docs, n).select(col("doc_id"), xxhash64(col("g")).as("h")),
      bands, rows, seed)

  /** [[bandRows]] over an already-hashed (doc_id, h) shingle table —
    * [[minhashLsh]] materializes that frame once and bands from the same
    * blocks verification reads. collect_list order is partition-dependent
    * but the signature is a per-permutation MIN, so the result is
    * order-invariant. */
  private def bandRowsFromHashed(ex: DataFrame, bands: Int, rows: Int,
                                 seed: Long): DataFrame =
    ex
      .groupBy(col("doc_id")).agg(collect_list(col("h")).as("hs"))
      .select(col("doc_id"),
        graft.functions.NativeExpressions.minhashSignature(
          col("hs"), bands * rows, seed).as("sig"))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))))))
      .toDF("doc_id", "band", "band_hash")

  /** Append a batch's LSH band rows to the standing signature index a
    * recurring dedup job probes. An empty or missing `dir` is a new
    * index; a rebuild writes to a new directory. Each appended file is
    * clustered by band_hash (hash-partitioned AND sort-led within files),
    * so row-group min/max stats are tight on band_hash: a probe variant
    * that PUSHES a band_hash filter (a non-broadcastable arrival batch
    * joining shuffled) skips row groups; the broadcast probe in
    * [[incrementalMinhash]] reads the index once sequentially either way.
    *
    * For arrivals, run it AFTER [[incrementalMinhash]] probed the batch,
    * so the next batch's old↔new candidates see this one as corpus.
    * Caller contract: arrival doc_ids are new. The append is blind, so a
    * replay writes the batch's rows again; the probe `distinct()`s its
    * candidate pairs, so duplicate rows emit no extra pair. */
  def appendSignatureIndex(docs: DataFrame, dir: String, n: Int = 3,
                           bands: Int = 32, rows: Int = 4,
                           seed: Long = 42L): Unit =
    bandRows(docs, n, bands, rows, seed)
      .repartition(col("band_hash"))
      .sortWithinPartitions(col("band_hash"), col("band"))
      .write.mode("append").parquet(dir)

  /** Persist the corpus's duplicate-cluster membership table — the other
    * standing artifact of a recurring dedup (the cluster twin of
    * [[appendSignatureIndex]]): (doc_id, cluster_id, cluster_size) for every
    * doc that belongs to a near-dup cluster, hash-distributed and sort-led
    * by cluster_id so per-cluster reads (canonical selection, cluster
    * audits) get tight row-group stats. Built once per corpus refresh;
    * downstream selection jobs ([[keepBest]]) read it instead of re-running
    * the minhash → clusters pipeline per invocation. */
  def writeClusterTable(docs: DataFrame, dir: String, n: Int = 3,
                        threshold: Double = 0.8): Unit =
    clusters(minhashLsh(docs, n, threshold))
      .repartition(col("cluster_id"))
      .sortWithinPartitions(col("cluster_id"), col("doc_id"))
      .write.mode("overwrite").parquet(dir)

  /** Per-cluster canonical selection by QUALITY over an existing
    * cluster-membership table: within each near-dup cluster keep the member
    * with the most tokens (the most complete copy — the curation rule when
    * duplicates differ by truncation), ties to the lower doc_id.
    *
    * This is the production read path: the cluster table is computed once
    * ([[writeClusterTable]]) and this probe pays only (a) token counting
    * for MEMBER docs — the corpus is pruned through a semi-join before any
    * text is tokenized, so text I/O is proportional to dup-cluster
    * membership, not corpus size — and (b) one membership-sized window.
    * Output and schema equal the composed pipeline's keep-best exactly
    * (DedupSpec pins the equality). */
  def keepBest(clusterTable: DataFrame, docs: DataFrame): DataFrame = {
    val members = clusterTable.select(col("doc_id"), col("cluster_id"))
    val toks = docs
      .join(members.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id")).orderBy(col("n_tokens").desc, col("doc_id"))
    members.join(toks, "doc_id")
      .withColumn("is_canonical", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("n_tokens"), col("is_canonical"))
  }

  /** Incremental near-dup detection — the arrival path of a standing 100 TB
    * dedup: a (daily-sized) batch of new documents is checked against the
    * CORPUS'S PERSISTED SIGNATURE INDEX without touching old text. New docs
    * band through the same native minhash; old↔new candidates come from the
    * index joined against the BROADCAST new bands (the index scans, the
    * corpus never re-shingles); new↔new candidates from self-joining the
    * new bands. Only documents that appear in some candidate pair are
    * re-shingled for exact-Jaccard verification — old-corpus text is read
    * through a semi-join prune, proportional to candidate count, not corpus
    * size. Returns exactly the pairs [[minhashLsh]] over (old ∪ new) would
    * return that involve at least one new doc (old↔old pairs were already
    * found when the index was built; DedupSpec pins the equality).
    *
    * After the run, append the new docs' band rows to the index
    * ([[appendSignatureIndex]]) to absorb the batch into the standing
    * corpus.
    */
  def incrementalMinhash(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, oldDocs: DataFrame, newDocs: DataFrame,
                         n: Int = 3, threshold: Double = 0.8,
                         bands: Int = 32, rows: Int = 4,
                         seed: Long = 42L): DataFrame = {
    // newBands feeds THREE consumers (the broadcast old↔new probe and both
    // sides of the new↔new self-join); left lazy each re-derives the
    // tokenize+minhash subtree. Pinned (batch-sized band rows — ids and
    // hashes only), the r19 recompute-class audit's find: the candidate
    // tree re-evaluated newBands ~6× through `touched` (incremental_dedup
    // measured 7.26 blessed → 3.89 isolated clean-gauge post-pin; the
    // standing-index probe twin 2.78 → 1.22).
    val newBands = InternalCaches.persistBounded(
      bandRows(newDocs, n, bands, rows, seed))
    val stored = FileFormats.readParquet(spark, indexDir)
    val oldNew = stored.toDF("da", "band", "band_hash")
      .join(broadcast(newBands.toDF("db", "band", "band_hash")),
            Seq("band", "band_hash"))
      .select(least(col("da"), col("db")).as("d1"),
              greatest(col("da"), col("db")).as("d2"))
    val nl = newBands.toDF("d1", "band", "band_hash")
    val nr = newBands.toDF("d2", "band", "band_hash")
    val newNew = nl.join(nr, Seq("band", "band_hash"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
    // candidates is consumed by the verification intersection join AND
    // (via `touched`) by all three branches of the hashed-shingle frame —
    // unpinned, every one of those re-ran the index scan plus both band
    // joins. Candidate-count-sized id pairs: pin.
    val candidates = InternalCaches.persistBounded(oldNew.union(newNew)
      .filter(col("d1") =!= col("d2")).distinct())
    // re-shingle ONLY docs that appear in a candidate pair — old AND new:
    // an arrival with no candidates contributes nothing to verification,
    // so tokenizing it again would be pure waste
    val involved = candidates.select(col("d1").as("doc_id"))
      .union(candidates.select(col("d2").as("doc_id"))).distinct()
    val touched = oldDocs.select(col("doc_id"), col("text"))
      .unionByName(newDocs.select(col("doc_id"), col("text")))
      .join(involved, Seq("doc_id"), "left_semi")
    // the touched-docs hashed shingle table itself feeds three consumers
    // inside verifyJaccardHashed (size census + both intersection joins) —
    // same pin discipline as the ngramJaccard/minhashLsh callers
    verifyJaccardHashed(candidates,
      InternalCaches.persistBounded(shingleRows(touched, n)
        .select(col("doc_id"), xxhash64(col("g")).as("h"))), threshold)
  }

  /** 64-bit SimHash (Charikar; Manku et al., WWW'07): per token-hash bit,
    * vote +1/-1 weighted by occurrence; sign of each bit-sum is the
    * fingerprint bit. Computed entirely per-row with higher-order array
    * functions — no explode, no shuffle. */
  def simhash(toks: Column): Column = {
    val hs = transform(toks, t => xxhash64(t))
    (0 until 64).map { i =>
      when(aggregate(hs, lit(0L), (acc, h) =>
        acc + when(shiftright(h, i).bitwiseAND(1L) === 1L, 1L).otherwise(-1L)) >= 0L,
        shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** SimHash near-dup join with pigeonhole bucketing: split the `bits`-bit
    * fingerprint into 4 chunks; any pair within Hamming distance
    * maxHamming <= 3 must agree on at least one chunk, so the join on
    * (chunk index, chunk value) is lossless. Verification is a bit_count
    * over XOR.
    *
    * Fingerprints are built by exploding tokens, hashing each once
    * (codegen'd), collecting per-doc hash arrays through one narrow doc_id
    * shuffle, and running the bits×tokens vote loop in the native
    * [[graft.functions.NativeExpressions.SimHashBits]] expression (the
    * per-row `aggregate()` higher-order form is CodegenFallback, and a
    * `bits`-column vote aggregate spends seconds in janino per plan).
    *
    * @param tokenHash 64-bit-ish hash expression per token. Default
    *                  xxhash64; pass an md5-derived hash (and bits=60) when
    *                  an external engine must replay the fingerprint — see
    *                  graft.queries.DocQueries.
    * @param bits      fingerprint width; must divide by 4 (chunking).
    */
  def simhashDup(docs: DataFrame, maxHamming: Int = 3,
                 tokenHash: Column => Column = xxhash64(_),
                 bits: Int = 64): DataFrame = {
    require(bits % 4 == 0 && bits <= 64, s"bits must be <=64, mod 4: $bits")
    val chunkBits = bits / 4
    val ex = docs.select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("t"))
      .select(col("doc_id"), tokenHash(col("t")).as("h"))
    val withSim = ex.groupBy(col("doc_id")).agg(collect_list(col("h")).as("hs"))
      .select(col("doc_id"),
        graft.functions.NativeExpressions.simhashBits(col("hs"), bits).as("simhash"))
    val chunked = withSim.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(c =>
          shiftright(col("simhash"), c * chunkBits)
            .bitwiseAND((1L << chunkBits) - 1)): _*)))
      .toDF("doc_id", "simhash", "chunk", "chunk_val")
    val l = chunked.toDF("d1", "sim1", "chunk", "chunk_val")
    val r = chunked.toDF("d2", "sim2", "chunk", "chunk_val")
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        bit_count(col("sim1").bitwiseXOR(col("sim2"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Train/eval decontamination — the overlap check every LLM pipeline runs
    * before training: flag training documents that share any word n-gram
    * with a benchmark/eval set (the standard n-gram-collision definition of
    * contamination, as in the GPT-3/PaLM eval-contamination appendices;
    * n defaults to 8 — long enough that chance collisions vanish, short
    * enough to catch paraphrased leakage).
    *
    * Shapes for 100 TB: both sides shingle through [[shingleRows]]'
    * per-row n-grams (no doc_id exchange) and reduce to 64-bit hashes
    * map-side; the benchmark's distinct shingle set (eval sets are tiny
    * next to a corpus) BROADCASTS, so the corpus never shuffles — the
    * whole check is a scan + broadcast semi-join + one doc_id-keyed count.
    * Corpus documents with fewer than n words emit no shingles and are
    * reported clean.
    *
    * @return one row per corpus doc: (doc_id, n_contaminated_ngrams —
    *         distinct benchmark-colliding shingles — and the contaminated
    *         flag)
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val d = shingleRows(docs, n).select(col("doc_id"), xxhash64(col("g")).as("h"))
    val b = shingleRows(benchmark, n).select(xxhash64(col("g")).as("h")).distinct()
    val hits = d.join(broadcast(b), Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__n_hits"))
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__n_hits"), lit(0L)).as("n_contaminated_ngrams"),
        (coalesce(col("__n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Graded contamination — [[decontaminate]]'s boolean flag refined to the
    * per-doc FRACTION of distinct n-grams that collide with the benchmark
    * set (the overlap-percentage definition used when a pipeline wants a
    * removable threshold, not just a flag: "drop if >X% of the doc's
    * 8-grams appear in an eval set").
    *
    * Same 100 TB shape as [[decontaminate]]: both sides reduce shingles to
    * 64-bit hashes map-side and the benchmark side BROADCASTS; the corpus
    * side shuffles only (doc_id, hash) pairs for the doc_id-keyed counts
    * (shingles arrive distinct from [[shingleRows]]) — bodies never move. The
    * score is an integer/integer IEEE division, bit-identical across
    * engines. Docs with fewer than n words have no shingles and score 0.
    */
  def contaminationScore(docs: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    val d = shingleRows(docs, n) // already distinct (doc_id, g)
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val b = shingleRows(benchmark, n)
      .select(xxhash64(col("g")).as("h")).distinct()
      .withColumn("__hit", lit(1))
    val scored = d.join(broadcast(b), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_ngrams"),
           count(col("__hit")).as("n_hit_ngrams"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_distinct_ngrams"), lit(0L)).as("n_distinct_ngrams"),
        coalesce(col("n_hit_ngrams"), lit(0L)).as("n_hit_ngrams"),
        when(col("n_distinct_ngrams").isNull, lit(0.0))
          .otherwise(col("n_hit_ngrams").cast("double") / col("n_distinct_ngrams"))
          .as("contamination_score"))
  }

  /** N-gram novelty — per doc, the fraction of its distinct word n-grams
    * whose FIRST corpus occurrence (minimum doc_id) is the doc itself:
    * ≈1 means genuinely new content, ≈0 means the doc restates n-grams
    * earlier docs already carried — the "how much does this doc add"
    * signal a curation pipeline reads next to near-dup flags (a doc can
    * evade pairwise dedup yet contribute nothing new; first-occurrence
    * attribution is also the standard accounting for crawl-order corpora,
    * where doc_id encodes arrival).
    *
    * The [[contaminationScore]] shape generalized to self-reference:
    * shingles reduce to 64-bit hashes map-side, the first-occurrence
    * aggregate and the attribution join share the hash-keyed shuffle, and
    * the per-doc rollup shuffles (doc_id, flag) only — document text
    * never travels. Docs with no n-grams (shorter than n words) report
    * 0/0 → novelty 0.0, like the other ratio metrics. */
  def ngramNovelty(docs: DataFrame, n: Int = 8): DataFrame = {
    val d = shingleRows(docs, n).select(col("doc_id"), xxhash64(col("g")).as("h"))
    val first = d.groupBy(col("h")).agg(min(col("doc_id")).as("__first_doc"))
    val scored = d.join(first, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_ngrams"),
           sum(when(col("__first_doc") === col("doc_id"), 1L).otherwise(0L))
             .as("n_novel_ngrams"))
    docs.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_distinct_ngrams"), lit(0L)).as("n_distinct_ngrams"),
        coalesce(col("n_novel_ngrams"), lit(0L)).as("n_novel_ngrams"),
        when(col("n_distinct_ngrams").isNull, lit(0.0))
          .otherwise(col("n_novel_ngrams").cast("double") / col("n_distinct_ngrams"))
          .as("novelty"))
  }

  /** Per-source first-occurrence novelty rollup — the crawl-freshness
    * dashboard row over [[ngramNovelty]]: for each source, its doc count,
    * summed distinct-gram and novel-gram volumes, and the source-level
    * novelty rate. A source whose rate collapses is re-reading itself
    * (or the crawl frontier moved into already-ingested territory) — the
    * per-source read that decides where the next crawl budget goes,
    * where [[ngramNovelty]] flags individual docs. The rate is ONE
    * identical-operand division of the summed longs (never a mean of
    * per-doc ratios — that IEEE sum is reduction-order-sensitive across
    * engines); |sources|-sized result, one extra narrow shuffle over the
    * novelty frame. */
  def noveltyBySource(docs: DataFrame, n: Int = 8): DataFrame =
    ngramNovelty(docs, n)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_distinct_ngrams")).as("n_distinct_ngrams"),
        sum(col("n_novel_ngrams")).as("n_novel_ngrams"))
      .withColumn("novelty_rate",
        when(col("n_distinct_ngrams") > 0,
          col("n_novel_ngrams").cast("double") / col("n_distinct_ngrams")))
      .orderBy(col("source"))

  /** Standing novelty index: append a batch's distinct n-gram hashes.
    * The index is every n-gram hash the corpus has seen so far — the
    * state the first-occurrence novelty screen
    * ([[incrementalNgramNovelty]]) probes. Hash-only rows, hash-clustered
    * per appended file (repartition + sort by h, the fingerprint-index
    * discipline) so probe co-scans stream tight row groups. An empty or
    * missing `dir` is a new index; a rebuild writes to a new directory.
    *
    * Blind append — rows the index already holds are harmless because
    * the reader probes with a semi-join (idempotent in the probe table,
    * the [[appendBlockIndex]] discipline), so concurrent appenders are
    * safe. A batch probed AGAIN after its own absorb (an engine retry or
    * a source redelivery) finds all its grams indexed and scores
    * zero-novel: the hash-only index cannot tell its grams from earlier
    * docs' ([[graft.streaming.IndexMaintenance.noveltyScreenBatch]]). */
  def appendNoveltyIndex(docs: DataFrame, dir: String, n: Int = 8): Unit =
    shingleRows(docs, n).select(xxhash64(col("g")).as("h")).distinct()
      .repartition(col("h")).sortWithinPartitions(col("h"))
      .write.mode("append").parquet(dir)

  /** Arrival novelty screen against the standing index: per arrival doc,
    * how many of its distinct n-grams are FIRST OCCURRENCES — never seen
    * by the indexed corpus, and not seen earlier within the batch (the
    * batch's own first instance is the min arrival doc_id holding the
    * gram). Under monotone ingestion (arrival ids above every indexed id)
    * this is EXACTLY the corpus-wide [[ngramNovelty]] first-occurrence
    * rule restricted to arrival docs: an indexed gram's global first
    * holder has a smaller id than any arrival, and an unindexed gram's
    * first holder is the batch minimum. The novelty fraction is the
    * content-freshness signal an ingest dashboard watches per source/
    * batch — a collapsing novelty rate means the crawl is re-reading
    * itself. Cost ∝ batch grams + ONE hash-only index co-scan behind a
    * broadcast semi-probe — never the corpus text. */
  def incrementalNgramNovelty(spark: org.apache.spark.sql.SparkSession,
                              dir: String, arrivals: DataFrame,
                              n: Int = 8): DataFrame = {
    val ag = shingleRows(arrivals, n)
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
    val batchFirst = ag.groupBy(col("h")).agg(min(col("doc_id")).as("__first_doc"))
    // batch-bounded probe broadcast against the standing index; distinct
    // because blind appends may have duplicated index rows
    val seen = FileFormats.readParquet(spark, dir).select(col("h"))
      .join(broadcast(batchFirst.select(col("h"))), Seq("h"), "left_semi")
      .distinct()
    val scored = ag.join(batchFirst, Seq("h"))
      .join(seen.withColumn("__seen", lit(true)), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_distinct_ngrams"),
        sum(when(col("__seen").isNull && col("__first_doc") === col("doc_id"),
          1L).otherwise(0L)).as("n_novel_ngrams"))
    arrivals.select(col("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_distinct_ngrams"), lit(0L)).as("n_distinct_ngrams"),
        coalesce(col("n_novel_ngrams"), lit(0L)).as("n_novel_ngrams"),
        when(col("n_distinct_ngrams").isNull, lit(0.0))
          .otherwise(col("n_novel_ngrams").cast("double") / col("n_distinct_ngrams"))
          .as("novelty"))
  }

  /** Shared-span detection — doc pairs sharing at least `minShared`
    * winnowing fingerprints (the MOSS-style proxy for exact-substring
    * duplication: a shared fingerprint witnesses a shared k-token span, so
    * pairs with several are near-certain copy/paste or template overlap —
    * the signal exact-substring dedup pipelines act on).
    *
    * Candidate generation groups the exploded fingerprints ONCE by fp_hash
    * (ids only — never payloads) into per-hash doc lists, drops hashes
    * seen in more than `maxDf` docs — the standard stop-fingerprint cut:
    * HOT fingerprints witness site boilerplate shared by thousands of
    * docs (⇒ df² pairs per hash), not pairwise duplication — and expands
    * each surviving ≤maxDf-element list to its ordered pairs map-side.
    * One shuffle on fp_hash, one on the (d1, d2) count; a fingerprint
    * SELF-JOIN would instead evaluate the whole shingle→winnow subtree
    * once per join branch (4× the scan work for identical output).
    *
    * Gram width defaults to k = 5 like [[exactSubstrSpans]] (same measured
    * specificity rationale — 3-gram window minima collide across natural
    * text and flood the pair aggregate with noise candidates); MOSS's
    * classic k = 3 stays available as a parameter.
    *
    * @param shingleHash as in [[TextAnalysis.fingerprintHashes]]; the md5
    *                    variant makes every minimum replayable by the oracle
    */
  def spanDedup(docs: DataFrame, k: Int = 5, w: Int = 4, minShared: Int = 2,
                maxDf: Int = 16,
                shingleHash: Column => Column = xxhash64(_)): DataFrame =
    spanPairs(rareFingerprintLists(docs, k, w, maxDf, shingleHash),
      minShared, maxDf)

  /** Per-fingerprint sorted doc lists, stop-fingerprints (df > maxDf)
    * dropped — the shared upstream of [[spanDedup]] and
    * [[spanContainment]]. */
  private def rareFingerprintLists(docs: DataFrame, k: Int, w: Int,
                                   maxDf: Int,
                                   shingleHash: Column => Column): DataFrame =
    TextAnalysis.fingerprintHashes(docs, k, w, shingleHash)
      .groupBy(col("fp_hash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) <= maxDf)

  private def spanPairs(rare: DataFrame, minShared: Int,
                        maxDf: Int): DataFrame = {
    val ids = col("ids")
    rare.filter(size(ids) >= 2)
      .select(explode(flatten(transform(ids, (d1, i) =>
        transform(slice(ids, i + 2, lit(maxDf)),
          d2 => struct(d1.as("d1"), d2.as("d2")))))).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** ExactSubstr-semantics dedup — REMOVE-THE-SPAN, not drop-the-doc (the
    * curation literature's exact formulation; [[spanDedup]] is its
    * fingerprint PROXY and stays for triage): emit (doc_id, start_tok,
    * len_tok) removal spans for every maximal cross-document verbatim
    * token run of length >= `minLen`, keeping the occurrence in the
    * SMALLEST doc_id (keep-first — for a chain A<B<C sharing a span, A
    * keeps it and B, C get removal spans).
    *
    * Candidate pairs come from the winnowing index at minShared = 1,
    * which is LOSSLESS for qualifying spans: a shared run of >= k+w-1
    * tokens contains a full w-gram window inside the run in both docs, so
    * both select the same window minimum — every pair with a span >=
    * minLen (>= k+w-1) shares >= 1 fingerprint. The one deliberate cut is
    * the shared stop-fingerprint cap (df > maxDf): spans whose every
    * witness is boilerplate present in more than maxDf docs are the
    * boilerplate gate's domain, not pairwise dedup's (and the oracle
    * replays the same cap, so the contract is exact).
    *
    * VERIFICATION is by actual token comparison, not fingerprints: only
    * candidate-involved docs are re-read (semi-join prune), their
    * positional k-gram hashes join per pair, and matches group into
    * maximal diagonal runs (p1 − p2 constant, consecutive p1 — the
    * standard dot-plot diagonal). A doc's removal spans from ALL partners
    * then merge per doc (interval sweep: running max-end, new island when
    * start exceeds it), so overlapping spans from different partners
    * emit once. Cost is pairs × doc-length — the pruned-pair price of
    * positional verification (the suffix-array formulation is the
    * single-machine alternative; this is the join-shaped one that
    * scales out).
    *
    * Positions are 1-based token indices; `len_tok` counts tokens.
    *
    * Gram width k = 5 (not the MOSS proxy's 3) is a measured specificity
    * choice: 3-gram window minima collide all over natural text — at
    * sf0.1 they generate 322,878 candidate pairs touching ALL 5,000 docs
    * (verification cost ∝ corpus, defeating the prune) — while 5-gram
    * minima yield 626 pairs over 1,059 docs for the identical span
    * output, and k+w−1 = 8 keeps the winnowing prune lossless at the
    * default minLen. */
  def exactSubstrSpans(docs: DataFrame, minLen: Int = 8,
                       k: Int = 5, w: Int = 4, maxDf: Int = 16,
                       shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    require(minLen >= k + w - 1,
      s"minLen must be >= k+w-1 = ${k + w - 1} for the winnowing candidate " +
        s"prune to be lossless, got $minLen")
    // pairs is consumed by both branches of `involved` AND the match join,
    // and grams (itself consumed by BOTH sides of the positional match)
    // embeds pairs again through the semi-join prune — left lazy the
    // winnow subtree re-evaluated ~7× per invocation (the incremental-
    // minhash recompute tree, r19). Both frames are candidate-bounded
    // (pair ids; involved-docs × positions grams), so pin them.
    val pairs = InternalCaches.persistBounded(
      spanPairs(rareFingerprintLists(docs, k, w, maxDf, shingleHash),
        minShared = 1, maxDf)
      .select(col("d1"), col("d2")))
    val involved = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id"))).distinct()
    val grams = InternalCaches.persistBounded(posGramRows(
      docs.select(col("doc_id"), col("text"))
        .join(involved, Seq("doc_id"), "left_semi"),
      k, shingleHash))
    removalSpans(pairs, grams, minLen, k)
  }

  /** The span-verification core shared by [[exactSubstrSpans]] and
    * [[incrementalSpanScreen]]: per (d1, d2 = remove side) pair, match
    * positional grams, group matches into maximal diagonal runs >=
    * `minLen`, emit removal spans on d2, and merge overlapping spans per
    * doc with the interval sweep. `grams` must cover every doc appearing
    * in `pairs`. */
  private def removalSpans(pairs: DataFrame, grams: DataFrame,
                           minLen: Int, k: Int): DataFrame = {
    val matches = pairs
      .join(grams.toDF("d1", "p1", "gh"), "d1")
      .join(grams.toDF("d2", "p2", "gh"), Seq("d2", "gh"))
    val byDiag = Window.partitionBy(col("d1"), col("d2"), col("diag"))
      .orderBy(col("p1"))
    val runs = matches
      .withColumn("diag", col("p1") - col("p2"))
      .withColumn("island", col("p1") - row_number().over(byDiag))
      .groupBy(col("d1"), col("d2"), col("diag"), col("island"))
      .agg(min(col("p2")).as("start"), count(lit(1)).as("ng"))
      .withColumn("len", col("ng") + lit(k - 1).cast("long"))
      .filter(col("len") >= minLen)
    // removal spans land on d2; merge overlaps per doc
    mergeSpanIntervals(runs
      .select(col("d2").as("doc_id"), col("start").cast("long").as("start"),
        (col("start") + col("len")).cast("long").as("e")))
  }

  /** Per-doc interval union — the sweep shared by every span-emitting
    * operator: input (doc_id, start, e) half-open token intervals,
    * output (doc_id, start_tok, len_tok) with overlapping/touching-
    * at-overlap intervals merged. Running max-end per doc; a new island
    * starts when an interval begins past everything seen. */
  private def mergeSpanIntervals(spans: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"), col("e"))
    spans
      .withColumn("max_e_before",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("start") > coalesce(col("max_e_before"), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("ni")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("start_tok"),
        (max(col("e")) - min(col("start"))).as("len_tok"))
      .select(col("doc_id"), col("start_tok"), col("len_tok"))
  }

  /** Hot-gram boilerplate spans — the COMPLEMENT of pairwise span dedup
    * (which caps candidate fingerprints at df <= maxDf and hands
    * everything hotter to "the boilerplate gate"; this IS that gate): for
    * each document, the merged token spans covered by k-grams that occur
    * in MORE than `minDf` distinct documents — site templates, license
    * headers, navigation chrome — emitted as (doc_id, start_tok,
    * len_tok) removal spans. Pairwise dedup ignores these regions by
    * construction; a curation pipeline strips them span-wise with this
    * operator and leaves the rarer cross-doc copies to
    * [[exactSubstrSpans]].
    *
    * Shape: positional grams → one hash-keyed distinct-doc count → the
    * hot set joins back on gh — size-adaptively: the hot set is
    * corpus-dependent (unbounded in principle, small in practice — hot
    * grams are few by definition), so the join is left to Catalyst/AQE
    * stats rather than a forced broadcast → each hot gram covers
    * [pos, pos+k) → per-doc interval union. No pair explosion anywhere —
    * cost is linear in gram rows, which is what makes the df-capped
    * split between this operator and the pairwise family the scalable
    * decomposition. */
  def boilerplateSpans(docs: DataFrame, minDf: Int = 16, k: Int = 5,
                       shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    val hot = gramDf(docs, k, shingleHash)
      .filter(col("df") > minDf)
      .select(col("gh"))
    mergeSpanIntervals(posGramRows(docs, k, shingleHash)
      .join(hot, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("start"),
        (col("pos") + lit(k)).cast("long").as("e")))
  }

  /** Distinct-document frequency per k-gram — the standing statistic
    * behind the boilerplate gate ([[boilerplateSpans]]) and its
    * incremental maintenance: one (gh, df) row per gram. Additive across
    * disjoint document sets (each doc counts once per gram), so
    * per-batch partials sum to the corpus value — what lets a stream
    * maintain the table by blind batch-tagged appends
    * ([[graft.streaming.StateSink.run]]). Replay: df adds, so a
    * redelivered batch counts its docs twice. */
  def gramDf(docs: DataFrame, k: Int = 5,
             shingleHash: Column => Column = xxhash64(_)): DataFrame =
    posGramRows(docs, k, shingleHash)
      .select(col("gh"), col("doc_id")).distinct()
      .groupBy(col("gh")).agg(count(lit(1)).as("df"))

  /** Boilerplate spans for `docs` against a STANDING gram-df table
    * (streamed [[gramDf]] partials written by
    * [[graft.streaming.StateSink.run]], or a batch [[gramDf]] dump):
    * partials sum per gram, the hot set (df > minDf) semi-joins the
    * probed docs' grams, intervals merge per doc. Cost ∝ probed docs +
    * table scan — corpus text never re-grams. The df a probe sees is as-of the table's last absorbed
    * batch: a gram that turns hot LATER flags only docs screened after
    * that point (run the batch operator for a retroactive sweep). */
  def boilerplateSpansFromTable(spark: org.apache.spark.sql.SparkSession,
                                dfDir: String, docs: DataFrame,
                                minDf: Int = 16, k: Int = 5,
                                shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    val hot = FileFormats.readParquet(spark, dfDir)
      .groupBy(col("gh")).agg(sum(col("df")).as("df"))
      .filter(col("df") > minDf)
      .select(col("gh"))
    mergeSpanIntervals(posGramRows(docs, k, shingleHash)
      .join(hot, Seq("gh"), "left_semi")
      .select(col("doc_id"), col("pos").cast("long").as("start"),
        (col("pos") + lit(k)).cast("long").as("e")))
  }

  /** Append a batch to the winnowing-fingerprint index — the standing
    * artifact that makes exact-substring dedup INCREMENTAL (the span-level
    * twin of [[appendSignatureIndex]]): one (doc_id, fp_hash) row per
    * distinct fingerprint per doc, hash-distributed and sort-led by
    * fp_hash so an arrival probe's fingerprint lookups get tight row-group
    * stats. An empty or missing `dir` is a new index; a rebuild writes to
    * a new directory. Stored UNFILTERED (no maxDf cut): document frequency
    * is a corpus-relative quantity that changes as arrivals absorb, so the
    * cap is applied at PROBE time against the union df — a cap baked into
    * the index would go stale with every batch.
    *
    * Same caller contract as [[appendSignatureIndex]]: arrival doc_ids are
    * new; at-least-once under replay — [[incrementalSpanScreen]] probes
    * with collect_set, so a replayed (doc_id, fp_hash) row can neither
    * synthesize a self-pair nor inflate the df cap. */
  def appendFingerprintIndex(docs: DataFrame, dir: String, k: Int = 5,
                             w: Int = 4,
                             shingleHash: Column => Column = xxhash64(_)): Unit =
    TextAnalysis.fingerprintHashes(docs, k, w, shingleHash)
      .repartition(col("fp_hash"))
      .sortWithinPartitions(col("fp_hash"))
      .write.mode("append").parquet(dir)

  /** Incremental exact-substring screen — the arrival path of a standing
    * span-level dedup: a batch of new documents is checked against the
    * corpus's persisted fingerprint index ([[appendFingerprintIndex]]) and
    * returns the ARRIVALS' removal spans (doc_id, start_tok, len_tok) —
    * maximal verbatim runs >= minLen the arrival shares with any standing
    * doc or an earlier-id arrival peer.
    *
    * Keep semantics are KEEP-STANDING, which is what a production screen
    * means: the corpus is immutable, so a shared span always lands on the
    * ARRIVAL regardless of id order; among arrival peers, keep-first by
    * id as in the batch operator. When arrival ids are larger than every
    * standing id (monotone ingestion — the normal case), the output
    * equals [[exactSubstrSpans]] over (corpus ∪ arrivals) restricted to
    * arrival doc_ids exactly (DedupSpec pins it across two absorb
    * cycles).
    *
    * Cost ∝ arrivals: the index is probed with a broadcast of the
    * arrivals' fingerprints (index scans, corpus text never re-shingles
    * wholesale); the union document-frequency cap is computed over ONLY
    * the probed fingerprints; and positional verification re-reads just
    * the candidate-involved standing docs through a semi-join prune.
    * After the run, absorb the batch with [[appendFingerprintIndex]].
    *
    * The arrival fingerprints, the candidate pairs, and the touched-doc
    * grams each feed several plan branches (the df cap, both probe
    * sides, the involved-doc prune, the verification join's two sides),
    * and left lazy each branch re-shingles the arrival batch — measured
    * 6s → ~1s at sf0.1 for a 4% batch. They are LAZY bounded persists
    * ([[InternalCaches.persistBounded]], the
    * [[incrementalContainmentScreen]] discipline): the SQL-surface
    * resolution rule invokes this operator at ANALYSIS time, so
    * construction must run no jobs (EXPLAIN of `graft_span_screen_indexed`
    * stays free — ExtensionsSpec pins it), while each persist still
    * evaluates its subtree once for all consumers at first action. All
    * three frames are batch-/candidate-bounded, never corpus-bounded;
    * their lifecycle is LRU-owned — callers must NOT unpersist them. */
  def incrementalSpanScreen(spark: org.apache.spark.sql.SparkSession,
                            indexDir: String, oldDocs: DataFrame,
                            newDocs: DataFrame, minLen: Int = 8,
                            k: Int = 5, w: Int = 4, maxDf: Int = 16,
                            shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    require(minLen >= k + w - 1,
      s"minLen must be >= k+w-1 = ${k + w - 1}, got $minLen")
    val newFps = InternalCaches.persistBounded(
      TextAnalysis.fingerprintHashes(newDocs, k, w, shingleHash))
    val stored = FileFormats.readParquet(spark, indexDir)
      .select(col("doc_id"), col("fp_hash"))
    // index rows for fingerprints the arrivals carry (broadcast probe),
    // plus the arrivals' own rows = every (doc, fp) row of the UNION
    // corpus for the probed fingerprints — exactly the df universe the
    // batch operator's cap sees for these fingerprints
    val probed = stored
      .join(broadcast(newFps.select(col("fp_hash")).distinct()), "fp_hash")
      .unionByName(newFps)
    // ONE groupBy applies the union-df cap AND yields per-hash doc lists
    // (the batch operator's [[rareFingerprintLists]] shape) — the
    // cap-then-rejoin formulation evaluated the probe subtree once per
    // branch for the same candidates. collect_SET, not list: the standing
    // index is written at-least-once ([[appendFingerprintIndex]] replay /
    // a foreachBatch retry after the append landed), so a (doc_id,
    // fp_hash) row may appear twice — a list would then carry a doc
    // twice, synthesize the self-pair (a, a) (whose positional
    // verification marks the WHOLE doc as a removal span against itself)
    // and inflate the df cap past maxDf, dropping real candidates. The
    // set collapses replays; sorted-strict ids make slice pairing x < y.
    val lists = probed.groupBy(col("fp_hash"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
    val newIds = newDocs.select(col("doc_id"))
    val ids = col("ids")
    // unordered candidate pairs (x < y), map-side from the ≤maxDf lists;
    // then orient each pair with the REMOVE side (d2) always an arrival:
    // corpus↔arrival regardless of id order (keep-standing),
    // arrival↔arrival keep-first by id; standing↔standing drops
    val pairs = lists
      .select(explode(flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + 2, lit(maxDf)),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .distinct()
      .join(broadcast(newIds.toDF("y")).withColumn("__ynew", lit(true)),
        Seq("y"), "left")
      .join(broadcast(newIds.toDF("x")).withColumn("__xnew", lit(true)),
        Seq("x"), "left")
      .select(explode(array(
        when(col("__ynew").isNotNull,
          struct(col("x").as("d1"), col("y").as("d2"))),
        when(col("__xnew").isNotNull && col("__ynew").isNull,
          struct(col("y").as("d1"), col("x").as("d2"))))).as("q"))
      .filter(col("q").isNotNull)
      .select(col("q.d1").as("d1"), col("q.d2").as("d2"))
      .transform(c => InternalCaches.persistBounded(c)) // candidate-bounded
    val involved = pairs.select(col("d1").as("doc_id"))
      .union(pairs.select(col("d2").as("doc_id"))).distinct()
    val touched = oldDocs.select(col("doc_id"), col("text"))
      .unionByName(newDocs.select(col("doc_id"), col("text")))
      .join(involved, Seq("doc_id"), "left_semi")
    // also candidate-bounded, and verification joins it twice (both pair
    // sides) — left lazy each side re-scans the corpus for the touched
    // docs' text and re-grams it
    val grams = InternalCaches.persistBounded(
      posGramRows(touched, k, shingleHash))
    removalSpans(pairs, grams, minLen, k)
  }

  /** Per-source span-removal accounting — the rollup that makes the span
    * family ACTIONABLE: for each source, how many tokens the cross-doc
    * ExactSubstr spans ([[exactSubstrSpans]]) and the hot-gram
    * boilerplate gate ([[boilerplateSpans]]) would remove TOGETHER, as a
    * fraction of the source's token volume — the "how duplicated /
    * templated is this slice" number a curation dashboard leads with.
    * The two span sets UNION and re-merge per doc before counting
    * (overlapping removals must not double-count — same interval sweep),
    * then one |sources|-sized rollup; sums are exact integers, the
    * fraction one final IEEE division. */
  def removalStats(docs: DataFrame, minLen: Int = 8, maxDf: Int = 16,
                   minDf: Int = 16, k: Int = 5,
                   shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    val spans = exactSubstrSpans(docs, minLen, k, 4, maxDf, shingleHash)
      .unionByName(boilerplateSpans(docs, minDf, k, shingleHash))
    val merged = mergeSpanIntervals(spans.select(col("doc_id"),
      col("start_tok").as("start"),
      (col("start_tok") + col("len_tok")).as("e")))
    val removed = merged.groupBy(col("doc_id"))
      .agg(sum(col("len_tok")).as("removed_tok"))
    docs.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).as("n_tok"))
      .join(removed, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tokens"),
        coalesce(sum(col("removed_tok")), lit(0L)).as("removed_tokens"))
      .select(col("source"), col("n_docs"), col("total_tokens"),
        col("removed_tokens"),
        (col("removed_tokens").cast("double") / col("total_tokens"))
          .as("removal_fraction"))
      .orderBy(col("source"))
  }

  /** WITHIN-doc repeated-run spans — the intra-document complement of
    * [[exactSubstrSpans]] (that one finds cross-doc copies; this one finds
    * a document repeating ITSELF — the generation-loop / boilerplate-
    * stutter signal curation pipelines strip span-wise): for each doc,
    * maximal token runs of length >= `minLen` that appear again LATER in
    * the same doc, emitted as removal spans (doc_id, start_tok, len_tok)
    * over the LATER occurrence — the first occurrence is kept, exactly
    * the keep-first rule of the cross-doc operator. Overlapping repeat
    * spans (a run repeated 3× yields pairwise matches) merge per doc with
    * the same interval sweep.
    *
    * Shape: positional gram self-join keyed on (doc_id, gh) with p1 < p2
    * — ONE doc-and-hash-keyed shuffle, per-key fan-out bounded by a
    * gram's repeat count within one doc (never cross-doc); diagonal runs
    * and the merge are windows over match rows. No candidate index is
    * needed — the join key carries the doc_id, so the work is
    * per-document local by construction and scales with total repeated
    * grams, not corpus size. Gram width follows the family's k = 5
    * default (3-grams repeat incidentally inside ordinary prose,
    * inflating the self-join fan-out for no extra spans at minLen 8). */
  def intraDocRepeats(docs: DataFrame, minLen: Int = 8, k: Int = 5,
                      shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    val grams = posGramRows(docs.select(col("doc_id"), col("text")),
      k, shingleHash)
    val matches = grams.toDF("doc_id", "p1", "gh")
      .join(grams.toDF("doc_id", "p2", "gh"), Seq("doc_id", "gh"))
      .filter(col("p1") < col("p2"))
    val byDiag = Window.partitionBy(col("doc_id"), col("diag"))
      .orderBy(col("p1"))
    val runs = matches
      .withColumn("diag", col("p2") - col("p1"))
      .withColumn("island", col("p1") - row_number().over(byDiag))
      .groupBy(col("doc_id"), col("diag"), col("island"))
      .agg(min(col("p2")).as("start"), count(lit(1)).as("ng"))
      // a short period repeated many times yields a long diagonal run;
      // the span is genuine (the text really does repeat for that long),
      // so the run length is the span length exactly as in the cross-doc
      // operator
      .withColumn("len", col("ng") + lit(k - 1).cast("long"))
      .filter(col("len") >= minLen)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("start"), col("e"))
    runs
      .select(col("doc_id"), col("start").cast("long").as("start"),
        (col("start") + col("len")).cast("long").as("e"))
      .withColumn("max_e_before",
        max(col("e")).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni",
        when(col("start") > coalesce(col("max_e_before"), lit(-1L)), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("ni")).over(byDoc))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("start_tok"),
        (max(col("e")) - min(col("start"))).as("len_tok"))
      .select(col("doc_id"), col("start_tok"), col("len_tok"))
  }

  /** Positional k-gram hashes: (doc_id, pos, gh) with 1-based token
    * positions — [[shingleRows]] keeping positions and duplicates (the
    * verification path needs every occurrence, not the distinct set). */
  private[graft] def posGramRows(docs: DataFrame, k: Int,
                                 shingleHash: Column => Column): DataFrame =
    docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("t"))
      .select(col("doc_id"),
        posexplode(TextAnalysis.ngrams(col("t"), k)).as(Seq("i", "g")))
      .select(col("doc_id"), (col("i") + 1).as("pos"),
        shingleHash(col("g")).as("gh"))

  /** Asymmetric span containment over the [[spanDedup]] pairs — the
    * quote/boilerplate-superset detector: for each shared-span pair, what
    * FRACTION of each doc's fingerprints the other doc covers.
    * `cover_d1` ≈ 1 with `cover_d2` small reads "d1 is (mostly) contained
    * in d2" — a quote, an excerpt, a template instance — the asymmetric
    * signal the symmetric pair count cannot express; a dedup keeps the
    * superset where near-dup keeps either.
    *
    * Numerator AND denominator count the same RARE-fingerprint universe
    * (df ≤ maxDf, df=1 included): dropping boilerplate fingerprints from
    * only the numerator would deflate containment for every doc sharing a
    * hot template — an exact copy scores cover = 1.0 either way. The
    * rare-list frame feeds both the pair aggregate and the per-doc
    * counts; at scale persist it (or the plan evaluates the
    * shingle→winnow subtree twice). Long/long division is IEEE double on
    * both engines — oracle-hashable. */
  def spanContainment(docs: DataFrame, k: Int = 5, w: Int = 4,
                      minShared: Int = 2, maxDf: Int = 16,
                      shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    val rare = rareFingerprintLists(docs, k, w, maxDf, shingleHash)
    val counts = rare.select(explode(col("ids")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    spanPairs(rare, minShared, maxDf)
      .join(counts.select(col("doc_id").as("d1"), col("n_fp").as("n_fp1")), "d1")
      .join(counts.select(col("doc_id").as("d2"), col("n_fp").as("n_fp2")), "d2")
      .select(col("d1"), col("d2"), col("n_shared"), col("n_fp1"), col("n_fp2"),
        (col("n_shared") / col("n_fp1")).as("cover_d1"),
        (col("n_shared") / col("n_fp2")).as("cover_d2"))
  }

  /** Connected components over a verified near-dup pair set — the clustering
    * step a dedup pipeline runs after pair generation: every doc in a
    * component maps to the component's smallest doc_id (`cluster_id`), so
    * "keep one canonical doc per cluster" is the filter
    * `doc_id = cluster_id`.
    *
    * Min-label propagation with a pointer-jumping step each round (label :=
    * min over neighbor labels, then label := label's own label), converging
    * in O(log diameter) rounds instead of O(diameter) — the shape of the
    * two-phase star algorithms used for web-scale components. Every round
    * shuffles ids only (no payloads), and `localCheckpoint` truncates the
    * iterative lineage so the plan does not grow with rounds (the same
    * reason Pregel-style loops checkpoint). Near-dup components are
    * overwhelmingly pairs/triples, so the fixpoint count exits the loop
    * after ~2 rounds regardless of corpus size.
    *
    * @param pairs verified duplicate pairs as (d1, d2), d1 < d2
    * @return (doc_id, cluster_id, cluster_size) for every doc in some pair
    */
  def clusters(pairs: DataFrame, maxRounds: Int = 16): DataFrame = {
    // the verified pair set is read by both union arms and then by every
    // label-propagation round's neighbor join; the bounded lazy persist
    // pins ONE evaluation of the (expensive) upstream matcher. And because
    // the cache is canonical-plan-keyed, every same-session consumer of
    // the SAME matcher output — cluster assignment, keep-best selection,
    // per-source dup stats, split leakage — shares that one pair table
    // instead of re-running minhash → verify per invocation (previously
    // this reuse happened only when AQE's exchange-reuse scheduling got
    // lucky: the measured run-to-run bimodality of the closure family).
    val p = InternalCaches.persistBounded(pairs.select(col("d1"), col("d2")))
    val edges = p.select(col("d1").as("src"), col("d2").as("dst"))
      .union(p.select(col("d2").as("src"), col("d1").as("dst")))
    var labels = edges.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
      .localCheckpoint(true)
    // convergence check: per-node labels only ever decrease, so the label
    // sum strictly decreases until the fixpoint — one scalar aggregate per
    // round instead of a join against the previous labels. DECIMAL sum:
    // billions of 2^40-ish ids would overflow a long accumulator. sum() over
    // zero rows is NULL — a clean corpus (no near-dup pairs) is legal input,
    // so map it to ZERO (first round then converges trivially).
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("label").cast(
        org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0))))
        .head().getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var changed = true
    var round = 0
    while (changed && round < maxRounds) {
      val nbr = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("label")).as("nbr_label"))
      val stepped = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
      // pointer jump: follow the new label to ITS new label (labels are doc
      // ids of this same set, so the self-join always matches)
      val jumped = stepped
        .join(stepped.select(col("id").as("label"), col("label").as("label2")),
              Seq("label"), "left")
        .select(col("id"), coalesce(col("label2"), col("label")).as("label"))
        .localCheckpoint(true)
      val newSum = labelSum(jumped)
      changed = newSum.compareTo(prevSum) != 0
      prevSum = newSum
      // round N is materialized (eager checkpoint) — release round N-1's
      // blocks so storage stays one label table, not rounds × labels
      Checkpoints.unpersist(labels)
      labels = jumped
      round += 1
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
              col("cluster_size"))
  }

  /** Pair-set evaluation — the measurement step a dedup pipeline runs when
    * tuning an approximate matcher: given the ground-truth pair set (an
    * exact method on a sample) and a candidate pair set (the cheap/scalable
    * method), one summary row of |truth|, |candidate|, |intersection| and
    * the derived precision/recall. Sound tuning is measured, not guessed —
    * this is how you pick bands/rows/hamming radius before a 100 TB run.
    *
    * Single pass: one full outer join on the (d1, d2) keys with membership
    * flags, then one global aggregate — no per-set counts, no repeated
    * scans. Both inputs are id-pair tables (tiny next to the corpus), so
    * the join shuffles ids only. */
  def evalPairs(truth: DataFrame, candidate: DataFrame): DataFrame = {
    val t = truth.select(col("d1"), col("d2")).withColumn("in_t", lit(1L))
    val c = candidate.select(col("d1"), col("d2")).withColumn("in_c", lit(1L))
    t.join(c, Seq("d1", "d2"), "full_outer")
      .agg(coalesce(sum(col("in_t")), lit(0L)).as("n_truth"),
           coalesce(sum(col("in_c")), lit(0L)).as("n_candidate"),
           coalesce(sum(col("in_t") * col("in_c")), lit(0L)).as("n_both"))
      .select(col("n_truth"), col("n_candidate"), col("n_both"),
        when(col("n_candidate") === 0, lit(null))
          .otherwise(col("n_both").cast("double") / col("n_candidate"))
          .as("pair_precision"),
        when(col("n_truth") === 0, lit(null))
          .otherwise(col("n_both").cast("double") / col("n_truth"))
          .as("pair_recall"))
  }
}
