package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.{Dedup, Ivf, Multimodal, Retrieval, Similarity, Sketches, TextAnalysis}
import graft.sources.FileFormats

/** SparkEntry wrappers + DuckDB oracles for the LLM-data-pipeline block
  * (SURVEY.md §2C): text analysis, dedup, similarity search, multimodal
  * plumbing — over the `documents` and `embeddings` tables.
  */
object DocQueries {

  /** DuckDB list literal for a stopword set — generated from the same Scala
    * list the Spark plan uses so the two can't drift. */
  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ",", "]")

  private def scoreSql(lang: String): String =
    s"len(list_filter(w, x -> list_contains(${sqlList(TextAnalysis.stopwords(lang))}, x))) AS ${lang}_score"

  private def langId(s: SparkSession, d: String): DataFrame =
    TextAnalysis.langId(Tables.documents(s, d)).orderBy("doc_id")

  private val langIdSql = s"""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    s AS (SELECT doc_id, ${Seq("en", "es", "fr", "de").map(scoreSql).mkString(", ")} FROM t)
    SELECT doc_id, en_score, es_score, fr_score, de_score,
      CASE WHEN greatest(en_score, es_score, fr_score, de_score) = 0 THEN 'unknown'
           WHEN de_score >= en_score AND de_score >= es_score AND de_score >= fr_score THEN 'de'
           WHEN en_score >= es_score AND en_score >= fr_score THEN 'en'
           WHEN es_score >= fr_score THEN 'es'
           ELSE 'fr' END AS predicted_lang
    FROM s ORDER BY doc_id"""

  /** Heuristic-vs-label confusion matrix (see
    * [[graft.ops.TextAnalysis.langConfusion]]); the oracle re-runs the
    * langIdSql pipeline as a subquery and cross-tabs in SQL. */
  private def langConfusion(s: SparkSession, d: String): DataFrame =
    TextAnalysis.langConfusion(Tables.documents(s, d))
      .orderBy("lang", "predicted_lang")

  private val langConfusionSql = s"""
    WITH p AS (SELECT doc_id, predicted_lang FROM ($langIdSql)),
    j AS (SELECT d.lang, p.predicted_lang FROM documents d JOIN p USING (doc_id)),
    c AS (SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n
          FROM j GROUP BY 1, 2),
    tot AS (SELECT lang, SUM(n) AS t FROM c GROUP BY 1)
    SELECT c.lang, predicted_lang, n, n::DOUBLE / t AS frac_of_lang
    FROM c JOIN tot USING (lang)
    ORDER BY lang, predicted_lang"""

  /** First-occurrence n-gram novelty (see
    * [[graft.ops.Dedup.ngramNovelty]]); hash-vs-string equivalence as in
    * the decontaminate oracle. */
  private def ngramNovelty(s: SparkSession, d: String): DataFrame =
    Dedup.ngramNovelty(Tables.documents(s, d), n = 8).orderBy("doc_id")

  private val ngramNoveltyCtes = """
    t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    g AS (SELECT DISTINCT doc_id,
            unnest([list_aggregate(w[i:i+7], 'string_agg', ' ')
                    for i in range(1, len(w)-6)]) AS g8
          FROM t WHERE len(w) >= 8),
    f AS (SELECT g8, MIN(doc_id) AS first_doc FROM g GROUP BY 1),
    sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
           FROM g JOIN f USING (g8) GROUP BY doc_id)"""

  private val ngramNoveltySql = s"""
    WITH $ngramNoveltyCtes
    SELECT d.doc_id,
           COALESCE(n_distinct, 0) AS n_distinct_ngrams,
           COALESCE(n_novel, 0) AS n_novel_ngrams,
           CASE WHEN n_distinct IS NULL THEN 0.0
                ELSE n_novel::DOUBLE / n_distinct END AS novelty
    FROM documents d LEFT JOIN sc USING (doc_id)
    ORDER BY doc_id"""

  /** Standing-index novelty screen
    * ([[graft.ops.Dedup.incrementalNgramNovelty]]): docs < 400 are the
    * indexed standing corpus, docs >= 400 the arrival batch. Under
    * monotone ids the screen ≡ the corpus-wide first-occurrence rule
    * restricted to arrivals, so the oracle is the shared novelty chain
    * with a doc_id >= 400 restriction. */
  private def incrementalNgramNoveltyQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    val dir = graft.sources.Scratch.dir("graft_nov_idx")
    Dedup.appendNoveltyIndex(all.filter($"doc_id" < 400), dir)
    Dedup.incrementalNgramNovelty(s, dir, all.filter($"doc_id" >= 400))
      .orderBy("doc_id")
  }

  private val incrementalNgramNoveltySql = s"""
    WITH $ngramNoveltyCtes
    SELECT d.doc_id,
           COALESCE(n_distinct, 0) AS n_distinct_ngrams,
           COALESCE(n_novel, 0) AS n_novel_ngrams,
           CASE WHEN n_distinct IS NULL THEN 0.0
                ELSE n_novel::DOUBLE / n_distinct END AS novelty
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
      LEFT JOIN sc USING (doc_id)
    ORDER BY doc_id"""

  /** Per-source novelty rollup ([[graft.ops.Dedup.noveltyBySource]]):
    * the crawl-freshness dashboard — summed gram volumes + one
    * identical-operand rate division, wrapping the shared novelty
    * chain's CTEs (single source of truth with ngram_novelty). */
  private def noveltyBySource(s: SparkSession, d: String): DataFrame =
    Dedup.noveltyBySource(Tables.documents(s, d), n = 8)

  private val noveltyBySourceSql = s"""
    WITH $ngramNoveltyCtes,
    nv AS (SELECT d.doc_id, d.source,
             COALESCE(n_distinct, 0) AS nd, COALESCE(n_novel, 0) AS nn
           FROM documents d LEFT JOIN sc USING (doc_id))
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nd) AS BIGINT) AS n_distinct_ngrams,
           CAST(SUM(nn) AS BIGINT) AS n_novel_ngrams,
           CASE WHEN SUM(nd) > 0 THEN SUM(nn)::DOUBLE / SUM(nd) END
             AS novelty_rate
    FROM nv GROUP BY 1 ORDER BY source"""

  /** Vocabulary-growth curve ([[TextAnalysis.vocabGrowth]]): Heaps'-law
    * frontier over 64-doc doc_id buckets; oracle groups token STRINGS
    * where the operator reduces to xxhash64 first (hash ≡ string at
    * these corpus sizes — the decontaminate precedent). */
  private def vocabGrowthQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.vocabGrowth(Tables.documents(s, d), bucketWidth = 64L)

  private val vocabGrowthSql = """
    WITH t AS (SELECT doc_id, doc_id // 64 AS bucket,
                      string_split(lower(trim(text)), ' ') AS w
               FROM documents),
    tk AS (SELECT bucket, tok
           FROM (SELECT bucket, unnest(w) AS tok FROM t)
           WHERE tok <> ''),
    vol AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
            FROM tk GROUP BY 1),
    nt AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS new_types
           FROM (SELECT tok, MIN(bucket) AS bucket FROM tk GROUP BY 1)
           GROUP BY 1),
    d AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM t GROUP BY 1)
    SELECT d.bucket, n_docs,
           COALESCE(n_tokens, 0) AS n_tokens,
           COALESCE(new_types, 0) AS new_types,
           CAST(SUM(COALESCE(new_types, 0)) OVER (ORDER BY d.bucket
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab_size,
           CAST(SUM(COALESCE(n_tokens, 0)) OVER (ORDER BY d.bucket
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
    FROM d LEFT JOIN vol USING (bucket) LEFT JOIN nt USING (bucket)
    ORDER BY bucket"""

  /** Standing vocabulary index served mid-lifecycle
    * ([[TextAnalysis.vocabGrowthFromIndex]]): docs < 400 bootstrap the
    * index, docs >= 400 blind-append (a split NOT aligned to the 64-doc
    * buckets — the reader's sums and mins are split-independent), and the
    * served curve equals the batch operator over everything absorbed, so
    * the oracle is [[vocabGrowthSql]] VERBATIM. */
  private def incrementalVocabQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    val dir = graft.sources.Scratch.dir("graft_vocab_idx")
    TextAnalysis.appendVocabIndex(all.filter($"doc_id" < 400), dir)
    TextAnalysis.appendVocabIndex(all.filter($"doc_id" >= 400), dir)
    TextAnalysis.vocabGrowthFromIndex(s, dir)
  }

  /** State-served embedding drift ([[Similarity.embeddingDriftFromTable]]):
    * vec_id-split batches write/append exact decimal partials, the served
    * report equals the batch operator bit for bit — oracle is
    * [[embeddingDriftSql]] VERBATIM (the covariance/DSIR maintenance
    * posture). */
  private def incrementalEmbeddingDriftQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.embeddings(s, d)
    val dir = graft.sources.Scratch.dir("graft_edrift_idx")
    Similarity.embeddingDriftPartials(all.filter($"vec_id" < 300))
      .write.mode("overwrite").parquet(dir)
    Similarity.embeddingDriftPartials(all.filter($"vec_id" >= 300))
      .write.mode("append").parquet(dir)
    Similarity.embeddingDriftFromTable(s, dir)
  }

  private def textQuality(s: SparkSession, d: String): DataFrame =
    TextAnalysis.quality(Tables.documents(s, d)).orderBy("doc_id")

  private val textQualitySql = s"""
    WITH t AS (SELECT doc_id, text, string_split(lower(trim(text)), ' ') AS w FROM documents)
    SELECT doc_id, length(text) AS n_chars, len(w) AS n_words,
      length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE / length(text) AS punct_ratio,
      len(list_filter(w, x -> list_contains(${sqlList(TextAnalysis.stopwords.values.flatten.toSeq.distinct)}, x)))::DOUBLE
        / len(w) AS stopword_ratio,
      list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w) AS mean_word_len
    FROM t ORDER BY doc_id"""

  /** Gopher rule-suite gate (see [[graft.ops.TextAnalysis.gopherRules]]);
    * the oracle replays every rule and the first-failing-reason chain with
    * the same thresholds. */
  private def gopherRules(s: SparkSession, d: String): DataFrame =
    TextAnalysis.gopherRules(Tables.documents(s, d)).orderBy("doc_id")

  private lazy val gopherRulesSql = s"""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    q AS (SELECT doc_id,
            CAST(len(w) AS INTEGER) AS n_words,
            list_sum(list_transform(w, x -> length(x)))::DOUBLE / len(w) AS mean_word_len,
            len(list_filter(w, x -> regexp_matches(x, '[a-z]')))::DOUBLE / len(w) AS alpha_word_ratio,
            CAST(len(list_distinct(list_filter(w, x -> list_contains(${sqlList(TextAnalysis.stopwords.values.flatten.toSeq.distinct)}, x)))) AS INTEGER) AS n_stop_distinct
          FROM t)
    SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, n_stop_distinct,
      CASE WHEN n_words < 30 THEN 'too_short'
           WHEN n_words > 10000 THEN 'too_long'
           WHEN mean_word_len < 3.0 OR mean_word_len > 5.0 THEN 'word_len'
           WHEN alpha_word_ratio < 0.8 THEN 'alpha'
           WHEN n_stop_distinct < 2 THEN 'stopwords'
           ELSE 'ok' END AS fail_reason,
      (n_words >= 30 AND n_words <= 10000
        AND mean_word_len >= 3.0 AND mean_word_len <= 5.0
        AND alpha_word_ratio >= 0.8 AND n_stop_distinct >= 2) AS keep
    FROM q ORDER BY doc_id"""

  /** Bigram-LM quality proxy (see
    * [[graft.ops.TextAnalysis.lmBigramScore]]); the oracle retrains the
    * same add-one bigram model in SQL and replays the decimal-mean. */
  private def lmBigramScore(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lmBigramScore(Tables.documents(s, d)).orderBy("doc_id")

  private val lmBigramScoreSql = """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    uni AS (SELECT tkn AS w1, CAST(COUNT(*) AS BIGINT) AS n_w1
            FROM (SELECT unnest(w) AS tkn FROM t) GROUP BY 1),
    voc AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uni),
    db AS (SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS pr
           FROM t),
    pair AS (SELECT pr, CAST(COUNT(*) AS BIGINT) AS n_pair FROM db GROUP BY 1),
    scored AS (SELECT doc_id,
                 (n_pair + 1)::DOUBLE / (n_w1 + v)::DOUBLE AS p
               FROM db JOIN pair USING (pr)
                       JOIN uni ON string_split(db.pr, ' ')[1] = uni.w1
                       CROSS JOIN voc)
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) / COUNT(p) AS avg_p
    FROM scored GROUP BY doc_id ORDER BY doc_id"""

  private def tokenCount(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCount(Tables.documents(s, d)).orderBy("doc_id")

  private def qualityRepetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(s, d)).orderBy("doc_id")

  private val qualityRepetitionSql = """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    words AS (SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct FROM t),
    bg AS (SELECT doc_id,
             unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS bg
           FROM t),
    hist AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    top AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count,
                   CAST(SUM(c) AS BIGINT) AS n_bigrams
            FROM hist GROUP BY doc_id)
    SELECT w.doc_id, CAST(n_tokens AS INTEGER) AS n_tokens,
           1.0 - n_distinct::DOUBLE / n_tokens AS dup_word_ratio,
           top_bigram_count::DOUBLE / n_bigrams AS top_bigram_ratio
    FROM words w LEFT JOIN top USING (doc_id) ORDER BY doc_id"""

  /** Per-source token-count drift report — the corpus-health staple a
    * recurring ingest dashboard leads with: per source, token volume and
    * mean document length compared between the two doc_id-parity halves
    * (the deterministic stand-in for before/after snapshots — swap the
    * predicate for an ingest-batch column in production). A collapsed or
    * exploded drift_ratio flags a source whose extraction changed. All
    * counts are exact integer sums; each mean is ONE long/long IEEE
    * division and the ratio one double division — engine-identical. An
    * absent half yields NULL mean and NULL ratio in both engines (no
    * ELSE in the conditional counts). One scan, one |sources|-sized
    * shuffle with map-side partials. */
  private def tokenDrift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val isOld = $"doc_id" % 2 === 0
    Tables.documents(s, d)
      .select($"source", isOld.as("is_old"),
        size(TextAnalysis.tokens($"text")).cast("long").as("n_tok"))
      .groupBy($"source")
      .agg(
        sum(when($"is_old", 1L)).as("n_old"),
        sum(when(!$"is_old", 1L)).as("n_new"),
        sum(when($"is_old", $"n_tok")).as("tok_old"),
        sum(when(!$"is_old", $"n_tok")).as("tok_new"))
      .select($"source", $"n_old", $"n_new", $"tok_old", $"tok_new",
        ($"tok_old".cast("double") / $"n_old").as("mean_old"),
        ($"tok_new".cast("double") / $"n_new").as("mean_new"),
        (($"tok_new".cast("double") / $"n_new") /
          ($"tok_old".cast("double") / $"n_old")).as("drift_ratio"))
      .orderBy($"source")
  }

  private val tokenDriftSql = """
    WITH d AS (
      SELECT source, doc_id % 2 = 0 AS is_old,
             len(string_split(lower(trim(text)), ' ')) AS n_tok
      FROM documents),
    g AS (
      SELECT source,
             SUM(CASE WHEN is_old THEN 1 END) AS n_old,
             SUM(CASE WHEN NOT is_old THEN 1 END) AS n_new,
             SUM(CASE WHEN is_old THEN n_tok END) AS tok_old,
             SUM(CASE WHEN NOT is_old THEN n_tok END) AS tok_new
      FROM d GROUP BY source)
    SELECT source, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
           CAST(tok_old AS BIGINT) AS tok_old, CAST(tok_new AS BIGINT) AS tok_new,
           tok_old::DOUBLE / n_old AS mean_old,
           tok_new::DOUBLE / n_new AS mean_new,
           (tok_new::DOUBLE / n_new) / (tok_old::DOUBLE / n_old) AS drift_ratio
    FROM g ORDER BY source"""

  /** Moving-boundary corpus-drift read-out — the STATE-SERVED form of
    * [[tokenDrift]]'s report (the r13 `token_drift` entry pins its split
    * predicate at plan time; an ingest dashboard needs the before/after
    * comparison at ANY boundary without rescanning the corpus). Documents
    * reduce to the per-(source, batch) partials the streaming
    * maintenance keeps ([[graft.streaming.StreamingCorpusStats.batchPartials]]
    * through [[graft.streaming.StateSink.run]])
    * (batch = pmod(doc_id, 8), the deterministic arrival stand-in) and the
    * report is served by
    * [[graft.streaming.StreamingCorpusStats.driftFromState]] at boundary 3
    * — one corpus scan to a ≤ sources×8-row state table, then O(state).
    * This gives the serve path (previously spec-only: served ≡ batch over
    * in-order micro-batches) a full DuckDB oracle; identical longs/IEEE
    * divisions on both sides, absent halves NULL. */
  private def corpusDrift(s: SparkSession, d: String): DataFrame =
    graft.streaming.StreamingCorpusStats.driftFromState(
      graft.streaming.StreamingCorpusStats.taggedPartials(
        Tables.documents(s, d), nBatches = 8),
      boundary = 3L)

  private val corpusDriftSql = """
    WITH d AS (
      SELECT source, (doc_id % 8) <= 3 AS is_old,
             len(string_split(lower(trim(text)), ' ')) AS n_tok
      FROM documents),
    g AS (
      SELECT source,
             SUM(CASE WHEN is_old THEN 1 END) AS n_old,
             SUM(CASE WHEN NOT is_old THEN 1 END) AS n_new,
             SUM(CASE WHEN is_old THEN n_tok END) AS tok_old,
             SUM(CASE WHEN NOT is_old THEN n_tok END) AS tok_new
      FROM d GROUP BY source)
    SELECT source, CAST(n_old AS BIGINT) AS n_old, CAST(n_new AS BIGINT) AS n_new,
           CAST(tok_old AS BIGINT) AS tok_old, CAST(tok_new AS BIGINT) AS tok_new,
           tok_old::DOUBLE / n_old AS mean_old,
           tok_new::DOUBLE / n_new AS mean_new,
           (tok_new::DOUBLE / n_new) / (tok_old::DOUBLE / n_old) AS drift_ratio
    FROM g ORDER BY source"""

  /** Corpus-level token frequency head — the vocabulary/Zipf stats a
    * pipeline inspects before tokenizer training. */
  private def tokenTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(TextAnalysis.tokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"token").limit(100)
  }

  private val tokenTopKSql = """
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS token FROM documents)
    GROUP BY token ORDER BY n DESC, token LIMIT 100"""

  private val tokenCountSql = raw"""
    SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS bpe_tokens
    FROM documents ORDER BY doc_id"""

  /** Exploded (doc_id, fp_hash) winnowing fingerprints with the portable md5
    * shingle hash, so DuckDB can recompute the exact same minima. */
  private def docFingerprint(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprintHashes(Tables.documents(s, d),
        shingleHash = c => md5(c.cast("binary")))
      .orderBy("doc_id", "fp_hash")

  private val docFingerprintSql = """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    h AS (SELECT doc_id,
            [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w)-1)] AS hs
          FROM t WHERE len(w) >= 3),
    f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
            THEN list_sort(list_distinct(
                   [list_aggregate(hs[i:i+3], 'min') for i in range(1, len(hs)-2)]))
            ELSE [list_aggregate(hs, 'min')] END AS fp
          FROM h)
    SELECT doc_id, unnest(fp) AS fp_hash FROM f ORDER BY doc_id, fp_hash"""

  /** Unicode NFC canonicalization over the corpus (native codegen'd
    * expression): changed flag + md5 of the normalized text. Both engines
    * implement Unicode NFC (java.text.Normalizer / DuckDB nfc_normalize) —
    * one standard, byte-identical output, md5-compared. */
  private def textNormalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val norm = graft.functions.NativeExpressions.nfcNormalize($"text")
    Tables.documents(s, d)
      .select($"doc_id", (norm =!= $"text").as("changed"),
              md5(norm.cast("binary")).as("norm_md5"))
      .orderBy("doc_id")
  }

  private val textNormalizeSql = """
    SELECT doc_id, nfc_normalize(text) <> text AS changed,
           md5(nfc_normalize(text)) AS norm_md5
    FROM documents ORDER BY doc_id"""

  /** Composite keep/drop gate with reasons — the oracle reuses the three
    * signal queries' SQL verbatim as subqueries (single source of truth:
    * if a signal's SQL drifts from its Spark twin, BOTH this and the
    * signal's own registry row fail). */
  private def qualityFilter(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityFilter(Tables.documents(s, d)).orderBy("doc_id")

  private lazy val qualityFilterSql = s"""
    SELECT q.doc_id, l.predicted_lang, q.n_words, r.dup_word_ratio,
           CASE WHEN l.predicted_lang = 'unknown' THEN 'lang'
                WHEN q.n_words < 20 THEN 'too_short'
                WHEN r.dup_word_ratio > 0.65 THEN 'repetition'
                ELSE 'ok' END AS reason,
           (l.predicted_lang <> 'unknown' AND q.n_words >= 20
             AND r.dup_word_ratio <= 0.65) AS keep
    FROM ($textQualitySql) q
      JOIN ($langIdSql) l USING (doc_id)
      JOIN ($qualityRepetitionSql) r USING (doc_id)
    ORDER BY doc_id"""

  /** Per-source quality-gate rollup
    * ([[TextAnalysis.qualityBySource]]): keep rate + drop-reason mix by
    * source — the oracle wraps the composite gate's SQL (single source
    * of truth) in a source-joined aggregate. */
  private def qualityBySource(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityBySource(Tables.documents(s, d))

  private lazy val qualityBySourceSql = s"""
    WITH qf AS (SELECT * FROM ($qualityFilterSql)),
    j AS (SELECT d.source, qf.keep, qf.reason
          FROM qf JOIN documents d USING (doc_id))
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN reason = 'lang' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lang,
           CAST(SUM(CASE WHEN reason = 'too_short' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_too_short,
           CAST(SUM(CASE WHEN reason = 'repetition' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_repetition,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS keep_rate
    FROM j GROUP BY source ORDER BY source"""

  /** Per-label centroid rows; exact-decimal per-dimension means. */
  private def embeddingCentroids(s: SparkSession, d: String): DataFrame =
    Similarity.labelCentroids(Tables.embeddings(s, d)).orderBy("label", "dim")

  private val embeddingCentroidsSql = """
    SELECT label, u.dim AS dim,
           CAST(SUM(CAST(CAST(u.x AS DOUBLE) AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(u.x) AS centroid,
           COUNT(*) AS n_vecs
    FROM (SELECT label,
                 unnest([{'dim': i-1, 'x': embedding[i]}
                         for i in range(1, len(embedding)+1)]) AS u
          FROM embeddings)
    GROUP BY label, u.dim ORDER BY label, dim"""

  /** Per-label embedding drift ([[Similarity.embeddingDrift]]):
    * half-centroid cosine per label, exact-decimal per-dim sums,
    * ascending-dim folds mirrored by DuckDB list(ORDER BY dim) +
    * list_sum. */
  private def embeddingDrift(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingDrift(Tables.embeddings(s, d))

  private val embeddingDriftSql = """
    WITH e AS (SELECT label, vec_id % 2 AS half,
                 unnest([{'dim': i-1, 'x': embedding[i]}
                         for i in range(1, len(embedding)+1)]) AS u
               FROM embeddings),
    pd AS (SELECT label, u.dim AS dim,
             SUM(CASE WHEN half = 0
                 THEN CAST(CAST(u.x AS DOUBLE) AS DECIMAL(38,6)) END) AS sa,
             COUNT(CASE WHEN half = 0 THEN 1 END) AS na,
             SUM(CASE WHEN half = 1
                 THEN CAST(CAST(u.x AS DOUBLE) AS DECIMAL(38,6)) END) AS sb,
             COUNT(CASE WHEN half = 1 THEN 1 END) AS nb
           FROM e GROUP BY 1, 2),
    v AS (SELECT label,
            CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
            list(sa::DOUBLE / na ORDER BY dim) AS va,
            list(sb::DOUBLE / nb ORDER BY dim) AS vb
          FROM pd GROUP BY 1),
    f AS (SELECT label, n_a, n_b,
            sqrt(list_sum(list_transform(range(1, len(va)+1),
              i -> va[i] * va[i]))) AS norm_a,
            sqrt(list_sum(list_transform(range(1, len(vb)+1),
              i -> vb[i] * vb[i]))) AS norm_b,
            list_sum(list_transform(range(1, len(va)+1),
              i -> va[i] * vb[i])) AS ab
          FROM v)
    SELECT label, n_a, n_b, norm_a, norm_b,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN ab / (norm_a * norm_b) END AS centroid_cos
    FROM f ORDER BY label"""

  /** PII scrub over the corpus — counts per class + md5 of the redacted
    * text (compact proof the two engines produced byte-identical redacted
    * output). Patterns are embedded from the same Scala list the Spark plan
    * uses, in the same application order, so they cannot drift. */
  private def piiRedact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextAnalysis.piiRedact(Tables.documents(s, d))
      .select($"doc_id", $"n_emails", $"n_ips", $"n_phones",
              md5($"redacted_text".cast("binary")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  private lazy val piiRedactSql: String = {
    // mirror the Spark side's progressive counting: class i is counted on
    // the text with classes 1..i-1 already redacted (stages(i))
    val stages = TextAnalysis.piiPatterns.scanLeft("text") {
      case (acc, (name, re)) =>
        s"regexp_replace($acc, '$re', '<${name.toUpperCase}>', 'g')"
    }
    val counts = TextAnalysis.piiPatterns.zipWithIndex.map { case ((name, re), i) =>
      s"len(regexp_extract_all(${stages(i)}, '$re')) AS n_${name}s"
    }.mkString(",\n           ")
    val redacted = stages.last
    s"""
    SELECT doc_id,
           $counts,
           md5($redacted) AS redacted_md5
    FROM documents ORDER BY doc_id"""
  }

  /** Corpus-level adjacent-token-pair frequencies — the statistic the first
    * BPE merge iteration of tokenizer training maximizes. Pairs are each
    * row's [[TextAnalysis.ngrams]] bigrams (built per row, so only `text`
    * is read and no doc_id exchange or window is planned), counted with a
    * map-side-partial hash aggregate, and the head taken with
    * TakeOrdered — the full pair histogram is never collected. */
  private def bpePairCounts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(TextAnalysis.tokens($"text").as("t"))
      .select(explode(TextAnalysis.ngrams($"t", 2)).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair").limit(50)
  }

  private val bpePairCountsSql = """
    SELECT pair, COUNT(*) AS n
    FROM (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS pair
          FROM (SELECT string_split(lower(trim(text)), ' ') AS w FROM documents))
    GROUP BY pair ORDER BY n DESC, pair LIMIT 50"""

  private def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d)).orderBy("doc_id")

  // NULL-text docs are their own canonical (the engine's unknown-content
  // carve-out — see Dedup.exact's scaladoc); the CASE mirrors it.
  private val dedupExactSql = raw"""
    SELECT doc_id,
      CASE WHEN text IS NULL THEN doc_id
           ELSE min(doc_id) OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) END AS canonical_id,
      CASE WHEN text IS NULL THEN FALSE
           ELSE doc_id <> min(doc_id) OVER (PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) END AS is_dup
    FROM documents ORDER BY doc_id"""

  /** CCNet-style block-hash dedup ([[graft.ops.Dedup.blockDedup]]): 8-token
    * blocks, globally-first instance kept, per-doc survival stats. The
    * oracle replays the segmentation with list slicing and decides "first"
    * with the same (doc_id, block_idx) total order. */
  private def blockDedupQ(s: SparkSession, d: String): DataFrame =
    Dedup.blockDedup(Tables.documents(s, d)).orderBy("doc_id")

  /** Shared block-dedup CTE chain (segmentation + global first-instance
    * marking) — consumed whole by `block_dedup` and restricted to arrival
    * docs by `incremental_block_dedup` (the monotone-id identity). */
  private val blockCtes = raw"""w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents),
    b AS (SELECT doc_id, u.bi AS block_idx, u.blk AS blk, u.bw AS bw FROM
          (SELECT doc_id, unnest([{'bi': i,
                                   'blk': array_to_string(ws[i*8+1:i*8+8], ' '),
                                   'bw': len(ws[i*8+1:i*8+8])} for i in range(0, (len(ws)+7)//8)]) AS u
           FROM w)),
    r AS (SELECT doc_id, block_idx, bw,
            row_number() OVER (PARTITION BY blk ORDER BY doc_id, block_idx) > 1 AS removed
          FROM b)"""

  private val blockStatsSelect = """SELECT doc_id, COUNT(*)::BIGINT AS n_blocks,
           SUM(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_removed,
           SUM(bw)::BIGINT AS words_total,
           SUM(CASE WHEN removed THEN bw ELSE 0 END)::BIGINT AS words_removed,
           (SUM(bw) - SUM(CASE WHEN removed THEN bw ELSE 0 END))::DOUBLE
             / SUM(bw)::DOUBLE AS kept_ratio
    FROM r"""

  private val blockDedupSql = s"""
    WITH $blockCtes
    $blockStatsSelect GROUP BY doc_id ORDER BY doc_id"""

  /** Fuzzy (Hamming ≤ 1) block dedup ([[graft.ops.Dedup.fuzzyBlockDedup]]):
    * the exact first-instance rule plus pigeonhole-banded domination among
    * distinct first instances (equal-width blocks differing in ≤ 1 token
    * share one exact half), df-capped at 16 first instances per half
    * bucket. The oracle replays block slicing, half banding, the cap, and
    * the per-position mismatch count over token LISTS (the engine compares
    * per-position xxhash64 — the dedup_exact hash≡string contract). */
  private def fuzzyBlockDedupQ(s: SparkSession, d: String): DataFrame =
    Dedup.fuzzyBlockDedup(Tables.documents(s, d)).orderBy("doc_id")

  /** The fuzzy-block CTE chain (segmentation → first instances → bw ≥ 2
    * half banding → df cap → Hamming verify → per-instance removal
    * marks), shared by `fuzzy_block_dedup` and the per-host rollup
    * `host_boilerplate_rate`. */
  private val fuzzyBlockCtes = raw"""w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws
               FROM documents),
    bi AS (SELECT doc_id, u.bi AS block_idx, u.toks AS toks,
                  len(u.toks) AS bw FROM
          (SELECT doc_id, unnest([{'bi': i, 'toks': ws[i*8+1:i*8+8]}
                                  for i in range(0, (len(ws)+7)//8)]) AS u
           FROM w)),
    f AS (SELECT doc_id, block_idx, toks, bw,
            row_number() OVER (PARTITION BY toks
                               ORDER BY doc_id, block_idx) AS rn,
            first_value(doc_id) OVER (PARTITION BY toks
                                      ORDER BY doc_id, block_idx) AS fd,
            first_value(block_idx) OVER (PARTITION BY toks
                                         ORDER BY doc_id, block_idx) AS fi
          FROM bi),
    ff AS (SELECT doc_id, block_idx, toks, bw FROM f WHERE rn = 1),
    bands AS (
      SELECT doc_id, block_idx, toks, bw, 0 AS hx,
             toks[1:(bw+1)//2] AS half FROM ff WHERE bw >= 2
      UNION ALL
      SELECT doc_id, block_idx, toks, bw, 1 AS hx,
             toks[(bw+1)//2+1:bw] AS half FROM ff WHERE bw >= 2),
    dfq AS (SELECT hx, bw, half, COUNT(*) AS df FROM bands GROUP BY 1, 2, 3),
    okb AS (SELECT b.* FROM bands b JOIN dfq USING (hx, bw, half)
            WHERE df <= 16),
    dom AS (SELECT DISTINCT b.doc_id AS fd, b.block_idx AS fi
            FROM okb a JOIN okb b
              ON a.hx = b.hx AND a.bw = b.bw AND a.half = b.half
             AND (a.doc_id < b.doc_id
                  OR (a.doc_id = b.doc_id AND a.block_idx < b.block_idx))
            WHERE len([i for i in range(1, a.bw + 1)
                       if a.toks[i] <> b.toks[i]]) <= 1),
    r AS (SELECT f.doc_id, f.block_idx, f.bw,
            (f.rn > 1 OR d.fd IS NOT NULL) AS removed
          FROM f LEFT JOIN dom d ON f.fd = d.fd AND f.fi = d.fi)"""

  private val fuzzyBlockDedupSql = s"""
    WITH $fuzzyBlockCtes
    $blockStatsSelect GROUP BY doc_id ORDER BY doc_id"""

  /** Standing-index arrival screen ([[graft.ops.Dedup.incrementalBlockDedup]]):
    * docs < 400 are the indexed standing corpus, docs >= 400 the arrival
    * batch. Under monotone ids the screen ≡ the corpus-wide first-instance
    * rule restricted to arrivals, so the oracle is the shared chain with a
    * doc_id >= 400 restriction. */
  private def incrementalBlockDedupQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    val dir = graft.sources.Scratch.dir("graft_blk_idx")
    Dedup.appendBlockIndex(all.filter($"doc_id" < 400), dir)
    Dedup.incrementalBlockDedup(s, dir, all.filter($"doc_id" >= 400))
      .orderBy("doc_id")
  }

  private val incrementalBlockDedupSql = s"""
    WITH $blockCtes
    $blockStatsSelect WHERE doc_id >= 400 GROUP BY doc_id ORDER BY doc_id"""

  /** Content-defined chunking dedup ([[graft.ops.Dedup.cdcChunkDedup]]):
    * md5-bucket cut rule (k=3 grams, divisor 8), first-instance survival,
    * per-doc stats. The oracle replays the cut rule with the same
    * '0x'-prefix md5 bucket and the same (doc_id, chunk_idx) total order. */
  private def cdcChunkDedupQ(s: SparkSession, d: String): DataFrame =
    Dedup.cdcChunkDedup(Tables.documents(s, d)).orderBy("doc_id")

  private val cdcChunkDedupSql = raw"""
    WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS ws FROM documents),
    t AS (SELECT doc_id, u.p AS p,
            CASE WHEN u.p >= 2 AND ('0x' || substr(md5(array_to_string(ws[u.p-1:u.p+1], ' ')), 1, 15))::BIGINT % 8 = 0
                 THEN 1 ELSE 0 END AS cut
          FROM (SELECT doc_id, ws, unnest([{'p': i} for i in range(0, len(ws))]) AS u FROM w)),
    m AS (SELECT doc_id, p,
            coalesce(SUM(cut) OVER (PARTITION BY doc_id ORDER BY p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
          FROM t),
    c AS (SELECT doc_id, chunk_idx, MIN(p) AS st, COUNT(*) AS ln
          FROM m GROUP BY doc_id, chunk_idx),
    cb AS (SELECT c.doc_id AS doc_id, chunk_idx, ln,
             array_to_string(w.ws[st+1 : st+ln], ' ') AS blk
           FROM c JOIN w ON c.doc_id = w.doc_id),
    r AS (SELECT doc_id, chunk_idx, ln,
            row_number() OVER (PARTITION BY blk ORDER BY doc_id, chunk_idx) > 1 AS removed
          FROM cb)
    SELECT doc_id, COUNT(*)::BIGINT AS n_chunks,
           SUM(CASE WHEN removed THEN 1 ELSE 0 END)::BIGINT AS n_removed,
           SUM(ln)::BIGINT AS tokens_total,
           SUM(CASE WHEN removed THEN ln ELSE 0 END)::BIGINT AS tokens_removed,
           (SUM(ln) - SUM(CASE WHEN removed THEN ln ELSE 0 END))::DOUBLE
             / SUM(ln)::DOUBLE AS kept_ratio
    FROM r GROUP BY doc_id ORDER BY doc_id"""

  /** Shared oracle for the near-dup text joins: EXACT word-3gram Jaccard
    * at sf scale (the engines must find the same pair set; the Spark side
    * never materializes all pairs).
    *
    * The oracle's candidate generation is LOSSLESS prefix filtering
    * (Chaudhuri et al., "A Primitive Operator for Similarity Joins",
    * ICDE'06; Bayardo et al. AllPairs, WWW'07), not a naive all-pairs
    * cross join (which made every consumer of this CTE an sf0.1 skip —
    * hours of O(n²) list intersections): under ANY global total order on
    * shingles, J(A,B) ≥ 4/5 forces |A∩B| ≥ ceil(4·|A|/5) (an integer ≥ a
    * real is ≥ its ceiling, and |A∪B| ≥ |A|), so the SMALLEST shared
    * shingle cannot hide past position |A| − ceil(4·|A|/5) + 1 of A's
    * ordering (pigeonhole) — and symmetrically for B. Joining on a shared
    * member of those two prefixes therefore finds EVERY qualifying pair;
    * the exact intersect/union verification then decides, exactly as
    * before. The order key is md5 of the shingle (identical bytes in both
    * engines, and hash order keeps hot corpus-boilerplate shingles out of
    * most prefixes); the bound is computed in integer arithmetic
    * ((4L+4)//5 = ceil(4L/5) — a float 0.8·L rounds the wrong way at
    * L ≡ 0 mod 5, exactly the J = 0.8 boundary pairs). Candidates with
    * J < 4/5 may or may not appear in `p`; every consumer filters
    * `jaccard >= 0.8`, so the result set is unchanged. */
  private val jaccardPairsCtes = """sh AS (
      SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)]) AS s
      FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents)
      WHERE len(w) >= 3),
    shp AS (SELECT doc_id, list_sort(list_transform(s, x -> md5(x))) AS hs
            FROM sh),
    pre AS (SELECT doc_id,
              unnest(hs[1 : len(hs) - ((4*len(hs) + 4) // 5) + 1]) AS pk
            FROM shp),
    cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM pre a JOIN pre b ON a.pk = b.pk AND a.doc_id < b.doc_id),
    p AS (
      SELECT d1, d2,
             len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
      FROM cand JOIN sh a ON cand.d1 = a.doc_id
                JOIN sh b ON cand.d2 = b.doc_id)"""

  private val jaccardPairsSql = s"""
    WITH $jaccardPairsCtes
    SELECT d1, d2, jaccard FROM p WHERE jaccard >= 0.8 ORDER BY d1, d2"""

  /** Directional containment join ([[graft.ops.Dedup.containmentJoin]]):
    * |A∩B|/|A| ≥ 0.8 ordered pairs. The oracle reuses the shared shingle
    * CTEs; its contained-side prefix has the SAME length formula as the
    * Jaccard prefix at t = 0.8 (|A| − ceil(0.8|A|) + 1), joined against
    * the FULL shingle table (the super side takes no prefix — that is the
    * asymmetry), then verifies the exact intersection. */
  private def containmentJoinQ(s: SparkSession, d: String): DataFrame =
    Dedup.containmentJoin(Tables.documents(s, d)).orderBy("d_sub", "d_super")

  private val containmentJoinSql = s"""
    WITH $jaccardPairsCtes,
    allsh AS (SELECT doc_id, unnest(hs) AS pk FROM shp),
    candc AS (SELECT DISTINCT a.doc_id AS d_sub, b.doc_id AS d_super
              FROM pre a JOIN allsh b ON a.pk = b.pk AND a.doc_id <> b.doc_id),
    pc AS (SELECT d_sub, d_super, len(a.s)::BIGINT AS n_sub,
             len(list_intersect(a.s, b.s))::BIGINT AS inter
           FROM candc JOIN sh a ON candc.d_sub = a.doc_id
                      JOIN sh b ON candc.d_super = b.doc_id)
    SELECT d_sub, d_super, n_sub, inter,
           inter::DOUBLE / n_sub::DOUBLE AS containment
    FROM pc WHERE inter::DOUBLE / n_sub::DOUBLE >= 0.8
    ORDER BY d_sub, d_super"""

  /** Standing-index containment screen
    * ([[graft.ops.Dedup.incrementalContainmentScreen]]): docs < 400 are
    * the indexed standing corpus, docs >= 400 the arrival batch probed
    * against it. Containment of a pair depends on nothing but the pair,
    * so the oracle is the corpus-wide containment chain restricted to
    * (arrival sub, standing super) pairs exactly. */
  private def incrementalContainmentQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    val dir = graft.sources.Scratch.dir("graft_cont_idx")
    Dedup.appendContainmentIndex(all.filter($"doc_id" < 400), dir)
    Dedup.incrementalContainmentScreen(s, dir, all.filter($"doc_id" >= 400))
      .orderBy("d_sub", "d_super")
  }

  private lazy val incrementalContainmentSql = s"""
    WITH $jaccardPairsCtes,
    allsh AS (SELECT doc_id, unnest(hs) AS pk FROM shp),
    candc AS (SELECT DISTINCT a.doc_id AS d_sub, b.doc_id AS d_super
              FROM pre a JOIN allsh b ON a.pk = b.pk AND a.doc_id <> b.doc_id),
    pc AS (SELECT d_sub, d_super, len(a.s)::BIGINT AS n_sub,
             len(list_intersect(a.s, b.s))::BIGINT AS inter
           FROM candc JOIN sh a ON candc.d_sub = a.doc_id
                      JOIN sh b ON candc.d_super = b.doc_id)
    SELECT d_sub, d_super, n_sub, inter,
           inter::DOUBLE / n_sub::DOUBLE AS containment
    FROM pc WHERE inter::DOUBLE / n_sub::DOUBLE >= 0.8
      AND d_sub >= 400 AND d_super < 400
    ORDER BY d_sub, d_super"""

  private def ngramJaccard(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccard(Tables.documents(s, d)).orderBy("d1", "d2")

  /** Incremental dedup: docs < 400 are the standing corpus (signature index
    * persisted to disk), docs >= 400 the day's arrivals probed against it.
    * Oracle = the exact all-pairs Jaccard restricted to pairs that involve
    * an arrival (d1 < d2 and arrivals hold the top ids, so `d2 >= 400` ⇔
    * "involves a new doc"). Old↔old pairs are deliberately absent — they
    * were found when the index was built. */
  private def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    val dir = graft.sources.Scratch.dir("graft_sig_idx")
    Dedup.appendSignatureIndex(all.filter($"doc_id" < 400), dir)
    Dedup.incrementalMinhash(s, dir,
        all.filter($"doc_id" < 400), all.filter($"doc_id" >= 400))
      .orderBy("d1", "d2")
  }

  private lazy val incrementalDedupSql = s"""
    WITH $jaccardPairsCtes
    SELECT d1, d2, jaccard FROM p
    WHERE jaccard >= 0.8 AND d2 >= 400 ORDER BY d1, d2"""

  private def dedupMinhash(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLsh(Tables.documents(s, d)).orderBy("d1", "d2")

  /** Split-leakage audit: do any near-duplicate pairs straddle the
    * train/val/test boundary? The evaluation-integrity check a dataset
    * build runs AFTER splitting — decontaminate guards against an external
    * benchmark, this guards the corpus against its own split (a near-dup
    * of a training doc sitting in test silently inflates eval). Composes
    * two verified operators: the MinHash-LSH pair set (banded candidates,
    * id-only shuffles — never all pairs) and the portable md5-bucket split
    * assignment; each pair classifies by its endpoints' splits
    * (least/greatest-normalized so (train,test) and (test,train) collapse)
    * and cross-split rows carry is_leak = true. Output is |split-pairs|
    * sized; the joins attach two id-keyed split columns to a
    * candidate-bounded pair list. */
  private def splitLeakage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minhashLsh(Tables.documents(s, d)).select($"d1", $"d2")
    val splits = graft.ops.Sampling.split(
        Tables.documents(s, d).select($"doc_id"), $"doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .select($"doc_id", $"split")
    pairs
      .join(splits.select($"doc_id".as("d1"), $"split".as("s1")), "d1")
      .join(splits.select($"doc_id".as("d2"), $"split".as("s2")), "d2")
      .select(least($"s1", $"s2").as("split_a"),
        greatest($"s1", $"s2").as("split_b"))
      .groupBy($"split_a", $"split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak", $"split_a" =!= $"split_b")
      .orderBy("split_a", "split_b")
  }

  private lazy val splitLeakageSql = s"""
    WITH $jaccardPairsCtes,
    q AS (SELECT d1, d2 FROM p WHERE jaccard >= 0.8),
    s AS (SELECT doc_id,
            CASE WHEN b < 90 THEN 'train'
                 WHEN b < 95 THEN 'val' ELSE 'test' END AS split
          FROM (SELECT doc_id,
                  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    ::BIGINT % 100 AS INTEGER) AS b
                FROM documents)),
    j AS (SELECT least(s1.split, s2.split) AS split_a,
                 greatest(s1.split, s2.split) AS split_b
          FROM q JOIN s s1 ON q.d1 = s1.doc_id
                 JOIN s s2 ON q.d2 = s2.doc_id)
    SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS is_leak
    FROM j GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Class-balance audit of the labeled embedding corpus — the first table
    * a classifier-training run prints: per-label count, share, the
    * inverse-frequency class weight N/(k·n) a weighted loss consumes, and
    * the corpus-level Gini impurity 1 − Σnᵢ²/N² + majority share (the
    * baseline any classifier must beat). All integer aggregates; each
    * double is one division (plus one fixed subtraction for Gini) —
    * engine-identical. One label-keyed count; the totals row broadcasts. */
  private def labelBalance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byLabel = Tables.embeddings(s, d)
      .groupBy($"label").agg(count(lit(1)).as("n"))
    val tot = byLabel.agg(sum($"n").as("n_total"), count(lit(1)).as("k"),
      sum($"n" * $"n").as("sum_sq"), max($"n").as("n_max"))
    byLabel.crossJoin(broadcast(tot))
      .select($"label", $"n",
        ($"n".cast("double") / $"n_total".cast("double")).as("share"),
        ($"n_total".cast("double") / ($"k" * $"n").cast("double"))
          .as("class_weight"),
        (lit(1.0) - $"sum_sq".cast("double") /
          ($"n_total" * $"n_total").cast("double")).as("gini_impurity"),
        ($"n_max".cast("double") / $"n_total".cast("double"))
          .as("majority_share"))
      .orderBy("label")
  }

  private val labelBalanceSql = """
    WITH c AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    g AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                 CAST(COUNT(*) AS BIGINT) AS k,
                 CAST(SUM(n * n) AS BIGINT) AS sum_sq,
                 CAST(MAX(n) AS BIGINT) AS n_max FROM c)
    SELECT label, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
           CAST(n_total AS DOUBLE) / CAST(k * n AS DOUBLE) AS class_weight,
           CAST(1 AS DOUBLE) - CAST(sum_sq AS DOUBLE)
             / CAST(n_total * n_total AS DOUBLE) AS gini_impurity,
           CAST(n_max AS DOUBLE) / CAST(n_total AS DOUBLE) AS majority_share
    FROM c CROSS JOIN g ORDER BY label"""

  /** SimHash with the portable md5-derived 60-bit token hash (15 hex chars →
    * bigint), so DuckDB can replay the exact fingerprint + pigeonhole
    * bucketing. Production default stays xxhash64/64-bit. */
  /** Duplicate-cluster assignment: connected components over the verified
    * MinHash-LSH pair set. The oracle recomputes the same components from
    * the exact all-pairs Jaccard pairs (== the LSH pair set, itself
    * oracle-checked by `dedup_minhash`) with a recursive transitive-closure
    * CTE — trivially affordable at oracle scale, while the engine side runs
    * the O(log diameter) label-propagation loop that scales. */
  private def dedupClusters(s: SparkSession, d: String): DataFrame =
    Dedup.clusters(Dedup.minhashLsh(Tables.documents(s, d))).orderBy("doc_id")

  /** Shared oracle CTE chain: verified Jaccard pairs → symmetric edges →
    * recursive transitive closure → min-label clusters (`lab`). Composed
    * by dedup_clusters and dedup_keep_best so the 0.8 threshold and the
    * labeling rule live in exactly one place. */
  private val closureCtes = """jp AS (SELECT d1, d2 FROM p WHERE jaccard >= 0.8),
    e AS (SELECT d1 AS src, d2 AS dst FROM jp UNION SELECT d2, d1 FROM jp),
    reach AS (
      SELECT src AS id, dst AS r FROM e
      UNION
      SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
    lab AS (SELECT id, least(id, MIN(r)) AS cluster_id FROM reach GROUP BY id)"""

  private val dedupClustersSql = s"""
    WITH RECURSIVE $jaccardPairsCtes,
    $closureCtes
    SELECT id AS doc_id, cluster_id, CAST(n AS BIGINT) AS cluster_size
    FROM lab JOIN (SELECT cluster_id, COUNT(*) AS n FROM lab GROUP BY 1) c
      USING (cluster_id)
    ORDER BY doc_id"""

  /** Canonical-document selection by QUALITY, not lowest id: within each
    * near-dup cluster keep the member with the most tokens — the most
    * complete copy, the curation rule when duplicates differ by
    * truncation — ties to the lower id. The per-cluster argmax is a
    * window over the cluster-membership table (dup-members-sized, never
    * the corpus). */
  private def dedupKeepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the registry entry honestly composes the whole pipeline for the
    // oracle; production reads a persisted cluster table through the same
    // Dedup.keepBest (the bench's dedup_keep_best_probe variant)
    Dedup.keepBest(Dedup.clusters(Dedup.minhashLsh(docs)), docs)
      .orderBy("doc_id")
  }

  private val dedupKeepBestSql = s"""
    WITH RECURSIVE $jaccardPairsCtes,
    $closureCtes,
    tk AS (SELECT doc_id, len(string_split(lower(trim(text)), ' ')) AS n_tokens
           FROM documents)
    SELECT id AS doc_id, cluster_id, n_tokens,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_tokens DESC, id) = 1 AS is_canonical
    FROM lab JOIN tk ON lab.id = tk.doc_id
    ORDER BY doc_id"""

  /** Per-source duplication health (see the cluster operator at
    * [[graft.ops.Dedup.clusters]]): for each source, how many of its docs
    * sit in a near-dup cluster and how many distinct clusters it touches
    * (a cluster spanning two sources counts once in each — the read-out is
    * "how contaminated is THIS source", not a partition of clusters). The
    * corpus-health dashboard row a curation pipeline watches per crawl
    * snapshot. Oracle composes the same closure CTEs as dedup_clusters. */
  private def sourceDupStats(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val cl = Dedup.clusters(Dedup.minhashLsh(docs))
      .select(col("doc_id"), col("cluster_id"))
    docs.select(col("doc_id"), col("source"))
      .join(cl, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
           count(col("cluster_id")).as("n_dup"),
           countDistinct(col("cluster_id")).as("n_clusters"))
      .select(col("source"), col("n_docs"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_share"),
        col("n_clusters"))
      .orderBy("source")
  }

  private lazy val sourceDupStatsSql = s"""
    WITH RECURSIVE $jaccardPairsCtes,
    $closureCtes
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(cluster_id) AS BIGINT) AS n_dup,
      COUNT(cluster_id)::DOUBLE / COUNT(*) AS dup_share,
      CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters
    FROM documents d LEFT JOIN lab ON d.doc_id = lab.id
    GROUP BY source ORDER BY source"""

  /** Per-host duplication + quality rollup ([[graft.ops.Dedup.hostDupStats]]):
    * the per-DOMAIN crawl-health dashboard — `source_dup_stats`' twin at
    * the unit a crawler actually acts on. The corpus carries no url
    * column, so the registry derives a deterministic stand-in URL per doc
    * that exercises every normalization rule the host extractor claims
    * (scheme case, leading www, userinfo, explicit ports, paths, query
    * strings, fragments — four rotating shapes by doc_id % 4, all of
    * which must collapse to the same `<source>.example.com` host); the
    * oracle replays the derivation and the regexp chain verbatim, so a
    * normalizer bug splits the host groups and fails the hash compare. */
  /** The deterministic stand-in URL (four rotating shapes by doc_id % 4,
    * all collapsing to `<source>.example.com`) shared by the host-keyed
    * registry entries; [[urlCteSql]] is its oracle replay. */
  private def withStandinUrl(df: DataFrame): DataFrame = {
    val m = col("doc_id") % 4
    val url = concat(
      when(m === 0, "https://www.").when(m === 1, "http://")
        .when(m === 2, "HTTPS://WWW.").otherwise("ftp://crawler:pw@"),
      col("source"), lit(".example.com"),
      when(m === 1, ":8080").when(m === 3, ":21").otherwise(""),
      lit("/"), col("lang"), lit("/doc/"), col("doc_id").cast("string"),
      when(m === 1, "?utm=x").when(m === 2, "#frag").otherwise(""))
    df.withColumn("url", url)
  }

  private def docsWithUrl(s: SparkSession, d: String): DataFrame =
    withStandinUrl(Tables.documents(s, d))

  private def hostDupStatsQ(s: SparkSession, d: String): DataFrame =
    Dedup.hostDupStats(docsWithUrl(s, d))

  /** Oracle replay of [[docsWithUrl]] + [[graft.ops.Dedup.hostOf]] —
    * CTEs `u` (derived url) and `h` (normalized host), composed by both
    * host-keyed entries. */
  private val urlCteSql = raw"""u AS (SELECT doc_id,
        CASE doc_id % 4 WHEN 0 THEN 'https://www.' WHEN 1 THEN 'http://'
          WHEN 2 THEN 'HTTPS://WWW.' ELSE 'ftp://crawler:pw@' END
        || source || '.example.com'
        || CASE doc_id % 4 WHEN 1 THEN ':8080' WHEN 3 THEN ':21' ELSE '' END
        || '/' || lang || '/doc/' || doc_id
        || CASE doc_id % 4 WHEN 1 THEN '?utm=x' WHEN 2 THEN '#frag' ELSE '' END
          AS url
      FROM documents),
    h AS (SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(lower(url), '^[a-z][a-z0-9+.-]*://', ''),
          '[/?#].*$$', ''), '^[^@]*@', ''), ':[0-9]+$$', ''), '^www\.', '')
          AS host
      FROM u)"""

  /** Per-host dup/quality rollup CTE chain (host → dup flags → gate →
    * `hs` with the host_dup_stats columns), composed by `host_dup_stats`
    * and `crawl_budget`. */
  private lazy val hostStatsCtes = raw"""e AS (SELECT doc_id,
        CASE WHEN text IS NULL THEN FALSE
             ELSE doc_id <> min(doc_id) OVER (PARTITION BY
               regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) END AS is_dup
      FROM documents),
    qf AS (SELECT doc_id, keep FROM ($qualityFilterSql)),
    j AS (SELECT h.host, e.is_dup, coalesce(qf.keep, false) AS keep
          FROM h JOIN e USING (doc_id) LEFT JOIN qf USING (doc_id)),
    hs AS (SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        AS dup_share,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
        AS keep_rate
    FROM j GROUP BY host)"""

  private lazy val hostDupStatsSql = s"""
    WITH $urlCteSql,
    $hostStatsCtes
    SELECT host, n_docs, n_dup, dup_share, n_kept, keep_rate
    FROM hs ORDER BY host NULLS FIRST"""

  /** Crawl-budget allocation ([[graft.ops.Dedup.crawlBudget]]): the
    * ACTION the per-host dashboard feeds — score = keep_rate ×
    * (1 − dup_share), shares proportional with an exact-decimal global
    * total and one IEEE divide per host. */
  private def crawlBudgetQ(s: SparkSession, d: String): DataFrame =
    Dedup.crawlBudget(Dedup.hostDupStats(docsWithUrl(s, d)))

  private lazy val crawlBudgetSql = s"""
    WITH $urlCteSql,
    $hostStatsCtes,
    sc AS (SELECT host, n_docs, keep_rate * (1.0 - dup_share) AS score
           FROM hs),
    t AS (SELECT CAST(SUM(CAST(score AS DECIMAL(38,6))) AS DOUBLE)
                   AS total FROM sc)
    SELECT host, n_docs, score,
      CASE WHEN total > 0 THEN score / total ELSE 0.0 END AS budget_share
    FROM sc, t ORDER BY host NULLS FIRST"""

  /** Per-host fetch-retry read-out ([[graft.ops.Dedup.crawlRetrySplit]]):
    * the retry-vs-cut ACTION split the r19 NULL-text carve-out makes
    * readable. The corpus has neither urls nor failed fetches, so the
    * registry derives both deterministically: the standin URL (same
    * four rotating shapes as host_dup_stats) plus a poisoned text column
    * — src3 all-NULL (the dead host → retry), src5 NULL on even ids
    * (mixed-error host, straddles the 0.5 threshold as the data falls),
    * src7 a constant error page on 3/4 of ids (dup-heavy → cut). The
    * oracle replays the poisoning, the url/host chain, the
    * NULL-carve-out dup flags, the composite gate (rebased onto the
    * poisoned frame) and the threshold CASE verbatim. */
  private def crawlRetrySplitQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val poisoned = Tables.documents(s, d).withColumn("text",
      when($"source" === "src3", lit(null).cast("string"))
        .when($"source" === "src5" && $"doc_id" % 2 === 0,
          lit(null).cast("string"))
        .when($"source" === "src7" && $"doc_id" % 4 =!= 0,
          lit("server error page"))
        .otherwise($"text"))
    Dedup.crawlRetrySplit(withStandinUrl(poisoned))
  }

  private lazy val crawlRetrySplitSql = {
    val pdocsCte = raw"""pdocs AS (SELECT doc_id,
        CASE WHEN source = 'src3' THEN NULL
             WHEN source = 'src5' AND doc_id % 2 = 0 THEN NULL
             WHEN source = 'src7' AND doc_id % 4 <> 0 THEN 'server error page'
             ELSE text END AS text,
        lang, source, n_chars
      FROM documents)"""
    val urlOver = urlCteSql.replace("FROM documents", "FROM pdocs")
    val gateOver = qualityFilterSql.replace("FROM documents", "FROM pdocs")
    s"""
    WITH $pdocsCte,
    $urlOver,
    e AS (SELECT doc_id,
        CASE WHEN text IS NULL THEN FALSE
             ELSE doc_id <> min(doc_id) OVER (PARTITION BY
               regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) END AS is_dup
      FROM pdocs),
    qf AS (SELECT doc_id, keep FROM ($gateOver)),
    j AS (SELECT h.host, p.text IS NULL AS fetch_err, e.is_dup,
                 coalesce(qf.keep, false) AS keep
          FROM h JOIN pdocs p USING (doc_id) JOIN e USING (doc_id)
               LEFT JOIN qf USING (doc_id)),
    hs AS (SELECT host,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CASE WHEN fetch_err THEN 1 ELSE 0 END) AS BIGINT) AS n_fetch_err,
        CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM j GROUP BY host)
    SELECT host, n_docs, n_fetch_err,
      CAST(n_fetch_err AS DOUBLE) / n_docs AS err_share,
      n_dup, CAST(n_dup AS DOUBLE) / n_docs AS dup_share,
      n_kept, CAST(n_kept AS DOUBLE) / n_docs AS keep_rate,
      CASE WHEN CAST(n_fetch_err AS DOUBLE) / n_docs >= 0.5 THEN 'retry'
           WHEN CAST(n_dup AS DOUBLE) / n_docs >= 0.5 THEN 'cut'
           ELSE 'keep' END AS action
    FROM hs ORDER BY host NULLS FIRST"""
  }

  /** URL-canonicalization dedup ([[graft.ops.Dedup.urlDedup]]): the
    * registry derives four URL shapes per doc keyed on (source,
    * doc_id % 10) that must ALL collapse to the same canonical —
    * tracking params (`utm_*`/`gclid`/`fbclid`), shuffled param order,
    * uppercase scheme/authority, `www.`, an explicit :443, a trailing
    * slash and a fragment — so any normalizer rule that drifts splits
    * the canonical groups and fails the hash. The oracle replays the
    * derivation and every normalization step (fragment → query
    * filter+sort → authority lowercase → default port → www →
    * trailing slash) with the same regexes. */
  private def urlDedupQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = $"doc_id" % 4
    val k = ($"doc_id" % 10).cast("string")
    val url = concat(
      when(m === 0, concat(lit("https://www."), $"source",
        lit(".example.com/p/"), k, lit("?b=2&a=1")))
      .when(m === 1, concat(lit("https://"), $"source",
        lit(".example.com:443/p/"), k, lit("?a=1&utm_source=x&b=2")))
      .when(m === 2, concat(lit("HTTPS://"), upper($"source"),
        lit(".EXAMPLE.COM/p/"), k, lit("/?b=2&gclid=z&a=1")))
      .otherwise(concat(lit("https://www."), $"source",
        lit(".example.com/p/"), k, lit("/?utm_campaign=c&a=1&b=2#frag"))))
    Dedup.urlDedup(Tables.documents(s, d).select($"doc_id", url.as("url")))
      .orderBy("doc_id")
  }

  private val urlDedupSql = raw"""
    WITH u AS (SELECT doc_id,
        CASE doc_id % 4
          WHEN 0 THEN 'https://www.' || source || '.example.com/p/'
                      || (doc_id % 10) || '?b=2&a=1'
          WHEN 1 THEN 'https://' || source || '.example.com:443/p/'
                      || (doc_id % 10) || '?a=1&utm_source=x&b=2'
          WHEN 2 THEN 'HTTPS://' || upper(source) || '.EXAMPLE.COM/p/'
                      || (doc_id % 10) || '/?b=2&gclid=z&a=1'
          ELSE 'https://www.' || source || '.example.com/p/'
               || (doc_id % 10) || '/?utm_campaign=c&a=1&b=2#frag' END AS url
      FROM documents),
    nf AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS s1 FROM u),
    bq AS (SELECT doc_id,
        regexp_replace(s1, '\?.*$$', '') AS base,
        regexp_extract(s1, '\?(.*)$$', 1) AS query FROM nf),
    kq AS (SELECT doc_id, base,
        array_to_string(list_sort(list_filter(string_split(query, '&'),
          p -> p <> '' AND NOT regexp_matches(p,
            '^(utm_[^=]*|gclid|fbclid)(=|$$)'))), '&') AS q
      FROM bq),
    au AS (SELECT doc_id, q,
        lower(regexp_extract(base, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1))
          AS auth,
        regexp_replace(regexp_replace(base,
          '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''), '/$$', '') AS rest
      FROM kq),
    n AS (SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(auth,
          '^(https://(?:[^/@]*@)?[^:/]*):443$$', '\1'),
          '^(http://(?:[^/@]*@)?[^:/]*):80$$', '\1'),
          '^([a-z][a-z0-9+.-]*://(?:[^/@]*@)?)www\.', '\1')
        || rest || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canon_url
      FROM au),
    f AS (SELECT canon_url, MIN(doc_id) AS canonical_id
          FROM n GROUP BY canon_url)
    SELECT n.doc_id, n.canon_url, f.canonical_id,
           n.doc_id <> f.canonical_id AS is_dup
    FROM n JOIN f USING (canon_url) ORDER BY doc_id"""

  /** Per-host template-boilerplate rollup
    * ([[graft.ops.Dedup.hostBoilerplateRate]]): `host_dup_stats` ×
    * `fuzzy_block_dedup`'s natural join — which hosts serve Hamming-≤1
    * template blocks, the crawler block-list read. Same derived URL as
    * host_dup_stats; the oracle replays the normalizer, the full fuzzy
    * block chain ([[fuzzyBlockCtes]]) and the |hosts|-bounded rollup. */
  private def hostBoilerplateRateQ(s: SparkSession, d: String): DataFrame =
    Dedup.hostBoilerplateRate(docsWithUrl(s, d))

  private lazy val hostBoilerplateRateSql = s"""
    WITH $fuzzyBlockCtes,
    $urlCteSql,
    st AS ($blockStatsSelect GROUP BY doc_id),
    j AS (SELECT h.host, st.n_blocks, st.n_removed, st.words_total,
                 st.words_removed
          FROM h LEFT JOIN st USING (doc_id))
    SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(coalesce(n_blocks, 0)) AS BIGINT) AS blocks_total,
      CAST(SUM(coalesce(n_removed, 0)) AS BIGINT) AS blocks_removed,
      CAST(SUM(coalesce(words_total, 0)) AS BIGINT) AS words_total,
      CAST(SUM(coalesce(words_removed, 0)) AS BIGINT) AS words_removed,
      CASE WHEN SUM(coalesce(words_total, 0)) > 0
           THEN SUM(coalesce(words_removed, 0))::DOUBLE
                / SUM(coalesce(words_total, 0))::DOUBLE
           END AS boilerplate_rate
    FROM j GROUP BY host ORDER BY host NULLS FIRST"""

  /** Pairwise cross-source shingle-overlap matrix (see
    * [[graft.ops.Dedup.sourceOverlap]] for the operator and its 100 TB
    * shape): `source_dup_stats` above answers "how contaminated is this
    * source"; this answers "which source pairs share material, and in
    * which direction" — the redundancy read a pipeline consults before
    * ingesting a new crawl. Oracle re-derives the same matrix over
    * distinct shingle STRINGS (the engine's two-seed hash128 distinct is
    * the documented collision-contract stand-in, `dedup_exact`
    * precedent). */
  private def sourceOverlapQ(s: SparkSession, d: String): DataFrame =
    Dedup.sourceOverlap(
      Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")))

  private val sourceOverlapSql = """
    WITH w AS (SELECT source, string_split(lower(trim(text)), ' ') AS w
               FROM documents),
    sh AS (SELECT DISTINCT source, g
           FROM (SELECT source,
                   unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           for i in range(1, len(w) - 1)]) AS g
                 FROM w WHERE len(w) >= 3)),
    sz AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
    p AS (SELECT a.source AS s1, b.source AS s2,
                 CAST(COUNT(*) AS BIGINT) AS n_shared
          FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
          GROUP BY 1, 2)
    SELECT s1, s2, CAST(z1.n_sh AS BIGINT) AS n_s1,
           CAST(z2.n_sh AS BIGINT) AS n_s2, n_shared,
           n_shared::DOUBLE / z1.n_sh AS containment_s1,
           n_shared::DOUBLE / z2.n_sh AS containment_s2,
           n_shared::DOUBLE / (z1.n_sh + z2.n_sh - n_shared) AS jaccard
    FROM p JOIN sz z1 ON p.s1 = z1.source JOIN sz z2 ON p.s2 = z2.source
    ORDER BY s1, s2"""

  /** The standing-index lifecycle of the overlap matrix
    * ([[graft.ops.Dedup.sourceOverlapFromIndex]]): docs < 400 build the
    * (source, hash128) shingle index, docs >= 400 blind-append, the matrix
    * is served from the index alone — one hash-only co-scan, no text.
    * Unlike the first-instance screens there is NO monotone-id contract:
    * set union is order-free, so after any append sequence the served
    * matrix ≡ whole-corpus `source_overlap` EXACTLY — the oracle is that
    * entry's SQL verbatim. */
  private def incrementalSourceOverlapQ(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val dir = graft.sources.Scratch.dir("graft_src_sh_idx")
    Dedup.appendSourceShingleIndex(all.filter($"doc_id" < 400), dir)
    Dedup.appendSourceShingleIndex(all.filter($"doc_id" >= 400), dir)
    Dedup.sourceOverlapFromIndex(s, dir)
  }

  /** Per-source length-distribution outliers (see
    * [[graft.ops.Audit.groupZScoreOutliers]]); the oracle replays the
    * decimal-moment z-score pipeline. */
  private def lengthOutliers(s: SparkSession, d: String): DataFrame =
    graft.ops.Audit.groupZScoreOutliers(
        Tables.documents(s, d).select(col("doc_id"), col("source"), col("n_chars")),
        col("source"), col("n_chars"))
      .orderBy("doc_id")

  private val lengthOutliersSql = """
    WITH m AS (SELECT source, COUNT(*) AS n,
                 CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE) AS sx,
                 CAST(SUM(CAST(n_chars * n_chars AS DECIMAL(38,6))) AS DOUBLE) AS sx2
               FROM documents GROUP BY source),
    s AS (SELECT source, sx / n AS mean,
            sqrt(greatest(sx2 / n - (sx / n) * (sx / n), 0.0)) AS std
          FROM m),
    z AS (SELECT doc_id, d.source, n_chars,
            CASE WHEN std = 0.0 THEN 0.0
                 ELSE (n_chars::DOUBLE - mean) / std END AS z
          FROM documents d JOIN s USING (source))
    SELECT doc_id, source, n_chars, z, abs(z) > 2.0 AS is_outlier
    FROM z ORDER BY doc_id"""

  private def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashDup(Tables.documents(s, d),
        tokenHash = t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"),
        bits = 60)
      .orderBy("d1", "d2")

  private val SimhashBits = 60

  /** CTE body replaying the portable simhash pipeline; last CTE `sp` =
    * bucket-collision candidate pairs with both fingerprints. CTE names are
    * s-prefixed so this body composes with [[jaccardPairsCtes]] (sh, p) in
    * one WITH clause (dedup_eval). */
  private lazy val simhashPairsCtes: String = {
    val chunkBits = SimhashBits / 4
    val votes = (0 until SimhashBits)
      .map(i => s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(", ")
    val fp = (0 until SimhashBits)
      .map(i => s"(CASE WHEN b$i >= 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)")
      .mkString(" | ")
    s"""st AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    se AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
          FROM (SELECT doc_id, unnest(w) AS tok FROM st)),
    sv AS (SELECT doc_id, $votes FROM se GROUP BY doc_id),
    sf AS (SELECT doc_id, $fp AS simhash FROM sv),
    sc AS (SELECT doc_id, simhash, chunk,
            (simhash >> (chunk * $chunkBits)) & ${(1L << chunkBits) - 1} AS chunk_val
          FROM sf, range(0, 4) r(chunk)),
    sp AS (SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
                 l.simhash AS s1, r.simhash AS s2
          FROM sc l JOIN sc r ON l.chunk = r.chunk AND l.chunk_val = r.chunk_val
                              AND l.doc_id < r.doc_id)"""
  }

  private lazy val dedupSimhashSql: String = s"""
    WITH $simhashPairsCtes
    SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INTEGER) AS hamming FROM sp
    WHERE bit_count(xor(s1, s2)) <= 3 ORDER BY d1, d2"""

  /** SimHash-vs-exact evaluation: how well does hamming ≤ 3 on the 60-bit
    * portable fingerprint approximate "n-gram Jaccard ≥ 0.8"? Truth = the
    * exact all-pairs Jaccard pairs, candidate = the simhash pairs, both
    * already individually oracle-checked; this op measures their overlap —
    * the tuning loop for picking a hamming radius before a full-corpus
    * run. */
  private def dedupEval(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.evalPairs(
      Dedup.ngramJaccard(docs),
      Dedup.simhashDup(docs,
        tokenHash = t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"),
        bits = SimhashBits))
  }

  private lazy val dedupEvalSql: String = s"""
    WITH $jaccardPairsCtes,
    $simhashPairsCtes,
    ex AS (SELECT d1, d2 FROM p WHERE jaccard >= 0.8),
    sm AS (SELECT d1, d2 FROM sp WHERE bit_count(xor(s1, s2)) <= 3),
    m AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_truth,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM sm) AS n_candidate,
                 (SELECT CAST(COUNT(*) AS BIGINT)
                  FROM ex JOIN sm USING (d1, d2)) AS n_both)
    SELECT n_truth, n_candidate, n_both,
           CASE WHEN n_candidate = 0 THEN NULL
                ELSE n_both::DOUBLE / n_candidate END AS pair_precision,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE n_both::DOUBLE / n_truth END AS pair_recall
    FROM m"""

  // -------------------------------------------------------------------------
  // Deployment tuning curves: every knob a dedup/quality deployment fixes
  // ahead of a full-corpus run, measured as a sweep over ONE evaluation of
  // the expensive shared frame (the ivf_nprobe_curve discipline: score once,
  // filter per point). All four are DuckDB-replayable end to end — the LSH
  // signature uses the portable md5-derived hash family where the production
  // path uses xxhash64.
  // -------------------------------------------------------------------------

  /** LSH banding-design curve — the (bands × rows) read a dedup deployment
    * makes BEFORE committing a signature layout: at a fixed 24-permutation
    * budget every factorization trades recall against candidate volume
    * (P[candidate | J] = 1 − (1 − J^rows)^bands, the S-curve steepening as
    * rows grows — Leskovec/Rajaraman/Ullman, MMDS ch.3). Per scheme: the
    * candidate-pair count (the cost a banding actually pays — every
    * candidate is one exact verification) and precision/recall against the
    * EXACT Jaccard ≥ 0.8 pair set ([[Dedup.ngramJaccard]], itself
    * oracle-checked). Signatures use the portable md5-derived hash family
    * (the dedup_simhash discipline) so the oracle replays every minhash
    * value bit-for-bit; the production xxhash64 family lives in
    * [[Dedup.minhashLsh]]. The 24 per-doc minhash values are computed ONCE
    * (one exploded (doc, shingle, perm) pass — codegen'd md5, map-side
    * partial min, a narrow (doc_id, perm, v) shuffle) and LRU-persisted;
    * each scheme re-bands the same values, and the truth frame serves all
    * five [[Dedup.evalPairs]] full-outer count joins (no scalar
    * crossJoins). The r=1 row is deliberately absent: single-value bands
    * degenerate to "share any minimum", which is quadratic in corpora with
    * heavy shingle reuse and a scheme no deployment picks. */
  private def minhashBandCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val perms = 24
    val sig = graft.ops.InternalCaches.persistBounded(
      Dedup.shingleRows(docs, 3)
        .select($"doc_id", $"g",
          explode(sequence(lit(0), lit(perms - 1))).as("perm"))
        .select($"doc_id", $"perm",
          conv(substring(md5(concat($"g", lit(":"), $"perm".cast("string"))
            .cast("binary")), 1, 15), 16, 10).cast("long").as("v"))
        .groupBy($"doc_id", $"perm").agg(min($"v").as("v")))
    val truth = graft.ops.InternalCaches.persistBounded(
      Dedup.ngramJaccard(docs).select($"d1", $"d2"))
    // ONE-PASS sweep (r20, guide §2.4): the r19 shape ran one banding
    // aggregate + one self-join + one full-outer eval join PER scheme —
    // 15 shuffling plan branches for 5 schemes. The schemes differ only
    // in the rows-per-band divisor, so one explode folds all five into a
    // single banding aggregate keyed (doc_id, r, band), one self-join on
    // (r, band, bk), and one truth join grouped by r — identical counts
    // (the aggregated rows are the same five groups' rows concatenated;
    // total aggregated volume is unchanged, only the number of shuffles
    // drops 5× → 1).
    val schemes = Seq((12, 2), (8, 3), (6, 4), (4, 6), (2, 12))
    val bandKeys = sig
      .withColumn("r", explode(array(schemes.map(x => lit(x._2)): _*)))
      .withColumn("band", ($"perm" / $"r").cast("int"))
      .groupBy($"doc_id", $"r", $"band")
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(struct($"perm", $"v"))),
          x => x.getField("v").cast("string"))).cast("binary")).as("bk"))
    val cand = bandKeys.select($"doc_id".as("d1"), $"r", $"band", $"bk")
      .join(bandKeys.select($"doc_id".as("d2"), $"r", $"band", $"bk"),
        Seq("r", "band", "bk"))
      .filter($"d1" < $"d2")
      .select($"r", $"d1", $"d2").distinct()
    val counts = cand
      .join(truth.withColumn("__t", lit(1L)), Seq("d1", "d2"), "left")
      .groupBy($"r")
      .agg(count(lit(1)).as("n_candidate"),
        coalesce(sum(when($"__t".isNotNull, 1L).otherwise(0L)), lit(0L))
          .as("n_both"))
    val nTruth = truth.agg(count(lit(1)).as("n_truth"))
    schemes.toDF("bands", "rows_per_band")
      .join(counts, $"rows_per_band" === $"r", "left")
      .crossJoin(broadcast(nTruth))
      .select($"bands", $"rows_per_band", $"n_truth",
        coalesce($"n_candidate", lit(0L)).as("n_candidate"),
        coalesce($"n_both", lit(0L)).as("n_both"))
      .select($"bands", $"rows_per_band", $"n_truth", $"n_candidate",
        $"n_both",
        when($"n_candidate" === 0, lit(null))
          .otherwise($"n_both".cast("double") / $"n_candidate")
          .as("pair_precision"),
        when($"n_truth" === 0, lit(null))
          .otherwise($"n_both".cast("double") / $"n_truth")
          .as("pair_recall"))
      .orderBy("rows_per_band")
  }

  private lazy val minhashBandCurveSql: String = {
    val schemes = Seq((12, 2), (8, 3), (6, 4), (4, 6), (2, 12))
    val per = schemes.map { case (_, r) =>
      s"""bd$r AS (SELECT doc_id, perm // $r AS band,
             md5(string_agg(v::VARCHAR, ',' ORDER BY perm)) AS bk
           FROM mh GROUP BY doc_id, perm // $r),
    cd$r AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             FROM bd$r a JOIN bd$r b
               ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)"""
    }.mkString(",\n    ")
    val rows = schemes.map { case (b, r) =>
      s"""SELECT $b AS bands, $r AS rows_per_band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tr) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cd$r) AS n_candidate,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM tr JOIN cd$r USING (d1, d2)) AS n_both"""
    }.mkString("\n    UNION ALL ")
    s"""
    WITH $jaccardPairsCtes,
    tr AS (SELECT d1, d2 FROM p WHERE jaccard >= 0.8),
    gs AS (SELECT doc_id, unnest(s) AS g FROM sh),
    gd AS (SELECT DISTINCT g FROM gs),
    hd AS (SELECT g, i AS perm,
             ('0x' || substr(md5(g || ':' || i::VARCHAR), 1, 15))::BIGINT AS h
           FROM gd, range(0, 24) rng(i)),
    mh AS (SELECT doc_id, perm, MIN(h) AS v
           FROM gs JOIN hd USING (g) GROUP BY doc_id, perm),
    $per,
    e AS ($rows)
    SELECT bands, rows_per_band, n_truth, n_candidate, n_both,
           CASE WHEN n_candidate = 0 THEN NULL
                ELSE n_both::DOUBLE / n_candidate END AS pair_precision,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE n_both::DOUBLE / n_truth END AS pair_recall
    FROM e ORDER BY rows_per_band"""
  }

  /** Hamming-radius tuning curve for the 60-bit portable simhash — the
    * radius [[dedupEval]] fixes at 3, swept: for each radius 0..3,
    * precision/recall of "hamming ≤ radius" against the exact Jaccard
    * ≥ 0.8 pair set, plus the accepted-pair count (the volume the radius
    * admits downstream). Candidates come from the 4-chunk pigeonhole
    * split, lossless for hamming ≤ 3 (Manku et al., WWW'07) — radius 4
    * would need a finer split, which is why the sweep stops at the
    * split's guarantee. The hamming-scored pair frame and the truth pair
    * set evaluate ONCE (LRU-persisted); each radius point is a filter
    * plus [[Dedup.evalPairs]]' full-outer count join. */
  private def simhashRadiusCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val truth = graft.ops.InternalCaches.persistBounded(
      Dedup.ngramJaccard(docs).select($"d1", $"d2"))
    val sim = graft.ops.InternalCaches.persistBounded(
      Dedup.simhashDup(docs,
        tokenHash = t => conv(substring(md5(t.cast("binary")), 1, 15), 16, 10)
          .cast("long"),
        bits = SimhashBits))
    (0 to 3).map { radius =>
      Dedup.evalPairs(truth, sim.filter($"hamming" <= radius))
        .select(lit(radius).as("radius"), $"n_truth", $"n_candidate",
          $"n_both", $"pair_precision", $"pair_recall")
    }.reduce(_.unionByName(_)).orderBy("radius")
  }

  private lazy val simhashRadiusCurveSql: String = {
    val rows = (0 to 3).map { radius =>
      s"""SELECT $radius AS radius,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tr8) AS n_truth,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM sp
            WHERE bit_count(xor(s1, s2)) <= $radius) AS n_candidate,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tr8 JOIN sp USING (d1, d2)
            WHERE bit_count(xor(s1, s2)) <= $radius) AS n_both"""
    }.mkString("\n    UNION ALL ")
    s"""
    WITH $jaccardPairsCtes,
    $simhashPairsCtes,
    tr8 AS (SELECT d1, d2 FROM p WHERE jaccard >= 0.8),
    e AS ($rows)
    SELECT radius, n_truth, n_candidate, n_both,
           CASE WHEN n_candidate = 0 THEN NULL
                ELSE n_both::DOUBLE / n_candidate END AS pair_precision,
           CASE WHEN n_truth = 0 THEN NULL
                ELSE n_both::DOUBLE / n_truth END AS pair_recall
    FROM e ORDER BY radius"""
  }

  /** Jaccard-threshold tuning curve — corpus keep-rate vs dedup
    * aggressiveness, the gate-calibration read a pipeline makes before
    * fixing its near-dup threshold: ONE exact PPJoin pair computation at
    * the sweep floor ([[Dedup.ngramJaccard]] at t = 0.5 — the prefix
    * filter is lossless at any threshold, and J ≥ t ≥ 0.5 pairs are a
    * subset of the 0.5 set), LRU-persisted; every sweep point filters the
    * pair frame. Dropping follows the engine's first-instance rule (keep
    * the smallest doc_id: a pair (d1 < d2) drops d2), so per point the
    * dropped set is the distinct d2s — counted by attaching per-d2 pair
    * counts to the doc-id list with one equi-join (count(*) = n_docs,
    * non-null rows = dropped docs, their sum = n_pairs; no scalar
    * crossJoins). The oracle re-derives the pair set with its own
    * lossless prefix filter at t = 0.5, rarity-ordered (df asc, md5) with
    * the PPJoin positional bound — at a floor this low, hash-ordered
    * prefixes admit quadratic candidates on boilerplate-heavy corpora
    * while rarity order keeps prefix buckets df-bounded. */
  private def dedupThresholdCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val pairs = graft.ops.InternalCaches.persistBounded(
      Dedup.ngramJaccard(docs, 3, 0.5))
    val ids = docs.select($"doc_id")
    Seq(0.5, 0.6, 0.7, 0.8, 0.9).map { t =>
      val byD2 = pairs.filter($"jaccard" >= t)
        .groupBy($"d2").agg(count(lit(1)).as("p2"))
      ids.join(byD2, $"doc_id" === $"d2", "left")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum($"p2"), lit(0L)).as("n_pairs"),
          count($"p2").as("n_dropped"))
        .select(lit(t).as("threshold"), $"n_docs", $"n_pairs", $"n_dropped",
          ($"n_docs" - $"n_dropped").as("n_kept"),
          when($"n_docs" === 0, lit(null))
            .otherwise(($"n_docs" - $"n_dropped").cast("double") / $"n_docs")
            .as("keep_rate"))
    }.reduce(_.unionByName(_)).orderBy("threshold")
  }

  private lazy val dedupThresholdCurveSql: String = {
    val rows = Seq("0.5", "0.6", "0.7", "0.8", "0.9").map { t =>
      s"""SELECT CAST($t AS DOUBLE) AS threshold,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM p5
            WHERE jaccard >= $t) AS n_pairs,
           (SELECT CAST(COUNT(DISTINCT d2) AS BIGINT) FROM p5
            WHERE jaccard >= $t) AS n_dropped"""
    }.mkString("\n    UNION ALL ")
    s"""
    WITH w5 AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w
                FROM documents),
    sh5 AS (SELECT doc_id,
              list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                             for i in range(1, len(w)-1)]) AS s
            FROM w5 WHERE len(w) >= 3),
    ex5 AS (SELECT doc_id, md5(g) AS h
            FROM (SELECT doc_id, unnest(s) AS g FROM sh5)),
    df5 AS (SELECT h, COUNT(*) AS df FROM ex5 GROUP BY h),
    sz5 AS (SELECT doc_id, COUNT(*) AS sz FROM ex5 GROUP BY doc_id),
    rk5 AS (SELECT e.doc_id, e.h, z.sz,
              row_number() OVER (PARTITION BY e.doc_id
                                 ORDER BY f.df, e.h) AS rk
            FROM ex5 e JOIN df5 f USING (h) JOIN sz5 z USING (doc_id)),
    pre5 AS (SELECT doc_id, h, sz, rk FROM rk5
             WHERE rk <= sz - (sz + 1) // 2 + 1),
    cand5 AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
              FROM pre5 a JOIN pre5 b ON a.h = b.h AND a.doc_id < b.doc_id
              WHERE b.sz >= (a.sz + 1) // 2 AND a.sz >= (b.sz + 1) // 2
                AND 1 + least(a.sz - a.rk, b.sz - b.rk)
                    >= ceil((a.sz + b.sz) / 3.0 - 1e-9)),
    in5 AS (SELECT c.d1, c.d2, COUNT(*) AS inter
            FROM cand5 c JOIN ex5 a ON a.doc_id = c.d1
                         JOIN ex5 b ON b.doc_id = c.d2 AND b.h = a.h
            GROUP BY c.d1, c.d2),
    p5 AS (SELECT d1, d2,
             inter::DOUBLE / (x.sz + y.sz - inter) AS jaccard
           FROM in5 JOIN sz5 x ON x.doc_id = in5.d1
                    JOIN sz5 y ON y.doc_id = in5.d2
           WHERE inter::DOUBLE / (x.sz + y.sz - inter) >= 0.5),
    e AS ($rows)
    SELECT threshold, n_docs, n_pairs, n_dropped,
           n_docs - n_dropped AS n_kept,
           (n_docs - n_dropped)::DOUBLE / n_docs AS keep_rate
    FROM e ORDER BY threshold"""
  }

  /** Quality-gate calibration curve — keep-rate vs each of the composite
    * gate's two numeric knobs ([[TextAnalysis.qualityFilter]]'s min_words
    * and max_dup_ratio), the other knob held at its production value: the
    * read a pipeline makes before fixing gate thresholds ("how much
    * corpus does each notch cost?"). The three signal frames compute ONCE
    * (LRU-persisted, signals only — no doc_id or text rides the sweep);
    * each half explodes its 5 candidate thresholds onto the signal frame
    * and aggregates map-side (10 output rows, one narrow shuffle — no
    * per-point re-scan). Anchors: the (min_words, 20) and
    * (max_dup_ratio, 0.65) points equal the production gate's keep count
    * by construction (TuningCurveSpec pins it). */
  private def qualityThresholdCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sig = graft.ops.InternalCaches.persistBounded(
      TextAnalysis.qualityFilter(Tables.documents(s, d))
        .select($"predicted_lang", $"n_words", $"dup_word_ratio"))
    def langOk = $"predicted_lang" =!= "unknown"
    val mw = sig
      .select($"predicted_lang", $"n_words", $"dup_word_ratio",
        explode(array(Seq(5, 10, 20, 40, 80).map(x => lit(x.toDouble)): _*))
          .as("threshold"))
      .groupBy($"threshold")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(langOk && $"n_words" >= $"threshold" &&
                 $"dup_word_ratio" <= 0.65, 1L).otherwise(0L)).as("n_kept"))
      .select(lit("min_words").as("knob"), $"threshold", $"n_docs", $"n_kept")
    val dr = sig
      .select($"predicted_lang", $"n_words", $"dup_word_ratio",
        explode(array(Seq(0.45, 0.55, 0.65, 0.75, 0.85).map(lit): _*))
          .as("threshold"))
      .groupBy($"threshold")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(langOk && $"n_words" >= 20 &&
                 $"dup_word_ratio" <= $"threshold", 1L).otherwise(0L))
          .as("n_kept"))
      .select(lit("max_dup_ratio").as("knob"), $"threshold", $"n_docs",
        $"n_kept")
    mw.unionByName(dr)
      .select($"knob", $"threshold", $"n_docs", $"n_kept",
        ($"n_kept".cast("double") / $"n_docs").as("keep_rate"))
      .orderBy("knob", "threshold")
  }

  private lazy val qualityThresholdCurveSql: String = s"""
    WITH qf AS (SELECT * FROM ($qualityFilterSql)),
    mw AS (SELECT 'min_words' AS knob, CAST(t AS DOUBLE) AS threshold,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN predicted_lang <> 'unknown' AND n_words >= t
                            AND dup_word_ratio <= 0.65 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept
           FROM qf, (VALUES (5), (10), (20), (40), (80)) v(t) GROUP BY t),
    dr AS (SELECT 'max_dup_ratio' AS knob, CAST(t AS DOUBLE) AS threshold,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN predicted_lang <> 'unknown' AND n_words >= 20
                            AND dup_word_ratio <= t THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept
           FROM qf, (VALUES (0.45), (0.55), (0.65), (0.75), (0.85)) v(t)
           GROUP BY t)
    SELECT knob, threshold, n_docs, n_kept,
           n_kept::DOUBLE / n_docs AS keep_rate
    FROM (SELECT * FROM mw UNION ALL SELECT * FROM dr)
    ORDER BY knob, threshold"""

  private def dedupEmbedding(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingNearDup(Tables.embeddings(s, d)).orderBy("v1", "v2")

  // -------------------------------------------------------------------------
  // Same-algorithm LSH oracles: the ±1 hyperplane matrix is embedded as a
  // literal in the generated SQL, so DuckDB replays the exact banding +
  // verification the Spark plan runs — an end-to-end cross-engine check of
  // the whole LSH pipeline (an all-pairs "semantic" oracle is impossible
  // here: sublinear LSH recall at low cosine is < 1 by design; see
  // Similarity's scaladoc for the recall model).
  // -------------------------------------------------------------------------
  private val LshBands = 32
  private val LshRows = 12

  private lazy val planesSqlLiteral: String =
    Similarity.planeMatrix(LshBands * LshRows, 64)
      .map(_.map(d => if (d > 0) "1" else "-1").mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  private lazy val lshBaseSql: String = s"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    s AS (SELECT vec_id,
            list_transform($planesSqlLiteral,
              p -> CASE WHEN list_sum(list_transform(range(1,65), i -> emb[i]*p[i])) >= 0 THEN 1 ELSE 0 END) AS sig
          FROM n),
    b AS (SELECT vec_id, band,
            list_reduce(sig[(band*$LshRows+1):(band*$LshRows+$LshRows)], (acc,x) -> acc*2+x) AS band_val
          FROM s, range(0, $LshBands) t(band))"""

  private lazy val dedupEmbeddingSql = s"""$lshBaseSql,
    c AS (SELECT DISTINCT l.vec_id AS v1, r.vec_id AS v2
          FROM b l JOIN b r ON l.band = r.band AND l.band_val = r.band_val AND l.vec_id < r.vec_id),
    p AS (SELECT v1, v2,
            list_sum(list_transform(range(1,65), i -> a.emb[i]*bb.emb[i]))/(a.nrm*bb.nrm) AS cos
          FROM c JOIN n a ON c.v1 = a.vec_id JOIN n bb ON c.v2 = bb.vec_id)
    SELECT v1, v2, cos FROM p WHERE cos >= 0.4 ORDER BY v1, v2"""

  private lazy val knnLshSql = s"""$lshBaseSql,
    qb AS (SELECT vec_id AS query_id, band, band_val FROM b WHERE vec_id < 20),
    c AS (SELECT DISTINCT b.vec_id, qb.query_id
          FROM b JOIN qb ON b.band = qb.band AND b.band_val = qb.band_val
          WHERE b.vec_id <> qb.query_id),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1,65), i -> a.emb[i]*q.emb[i]))/(a.nrm*q.nrm) AS cos
               FROM c JOIN n a ON c.vec_id = a.vec_id JOIN n q ON c.query_id = q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM scored)
    SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5
    ORDER BY query_id, rank"""

  private def queries(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.embeddings(s, d).filter($"vec_id" < 20)
  }

  /** SRP banding-design sweep ([[Similarity.lshBandsCurve]]): recall@5 and
    * candidate cost per (bands × rows) split of one 48-plane budget — the
    * sign-LSH twin of `minhash_band_curve`, and the curve behind
    * `ann_recall`'s single operating point. The oracle embeds the same
    * 48-plane Rademacher literal and replays banding, candidate join,
    * exact scoring and both count summaries per scheme. */
  private def lshBandsCurveQ(s: SparkSession, d: String): DataFrame =
    Similarity.lshBandsCurve(Tables.embeddings(s, d), queries(s, d))

  private lazy val planes48SqlLiteral: String =
    Similarity.planeMatrix(48, 64)
      .map(_.map(d => if (d > 0) "1" else "-1").mkString("[", ",", "]"))
      .mkString("[", ",", "]")

  private lazy val lshBandsCurveSql: String = {
    val schemes = Seq((12, 4), (8, 6), (6, 8), (4, 12))
    val per = schemes.map { case (b, r) =>
      s"""bd$r AS (SELECT vec_id, band,
             list_reduce(sig[(band*$r+1):(band*$r+$r)], (acc,x) -> acc*2+x) AS band_val
           FROM sg, range(0, $b) t(band)),
    qb$r AS (SELECT vec_id AS query_id, band, band_val FROM bd$r WHERE vec_id < 20),
    c$r AS (SELECT DISTINCT bd$r.vec_id, qb$r.query_id
            FROM bd$r JOIN qb$r ON bd$r.band = qb$r.band AND bd$r.band_val = qb$r.band_val
            WHERE bd$r.vec_id <> qb$r.query_id),
    sc$r AS (SELECT query_id, c$r.vec_id AS neighbor_id,
               list_sum(list_transform(range(1,65), i -> a.emb[i]*q.emb[i]))/(a.nrm*q.nrm) AS cos
             FROM c$r JOIN n a ON c$r.vec_id = a.vec_id JOIN n q ON c$r.query_id = q.vec_id),
    ap$r AS (SELECT query_id, neighbor_id
             FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                ORDER BY cos DESC, neighbor_id) AS rank
                   FROM sc$r)
             WHERE rank <= 5),
    h$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM tr JOIN ap$r USING (query_id, neighbor_id)),
    cn$r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM c$r)"""
    }.mkString(",\n    ")
    val rows = schemes.map { case (b, r) =>
      s"SELECT $b AS bands, $r AS rows_per_band, n_queries, n_truth, n_hit, n_hit::DOUBLE / n_truth AS recall_at_5, n_candidates, n_candidates::DOUBLE / n_queries AS cand_per_query FROM tot CROSS JOIN h$r CROSS JOIN cn$r"
    }.mkString("\n    UNION ALL ")
    s"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    sg AS (SELECT vec_id,
             list_transform($planes48SqlLiteral,
               p -> CASE WHEN list_sum(list_transform(range(1,65), i -> emb[i]*p[i])) >= 0 THEN 1 ELSE 0 END) AS sig
           FROM n),
    tr AS (SELECT query_id, neighbor_id FROM ($knnBruteForceSql)),
    tot AS (SELECT (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM tr) AS n_queries,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM tr) AS n_truth),
    $per
    $rows ORDER BY rows_per_band"""
  }

  private def knnBruteForce(s: SparkSession, d: String): DataFrame =
    Similarity.knnBruteForce(Tables.embeddings(s, d), queries(s, d))
      .orderBy("query_id", "rank")

  private val knnBruteForceSql = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    q AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 20),
    p AS (SELECT query_id, vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*q_emb[i]))
              / (nrm * q_nrm) AS cos
          FROM n JOIN q ON vec_id <> query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p)
    SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5
    ORDER BY query_id, rank"""

  private def knnLsh(s: SparkSession, d: String): DataFrame =
    Similarity.knnLsh(Tables.embeddings(s, d), queries(s, d))
      .orderBy("query_id", "rank")

  /** Corpus-wide k-NN graph ([[graft.ops.Similarity.knnGraph]]): every
    * vector a query. The ORACLE is the honest all-pairs rank — exact at
    * sf0.01; at sf0.1 it is an O(n²) DuckDB list fold (engine side runs
    * in every bench; oracle joins the documented O(n²)-skip list). */
  private def knnGraphQ(s: SparkSession, d: String): DataFrame =
    Similarity.knnGraph(Tables.embeddings(s, d)).orderBy("query_id", "rank")

  private val knnGraphSql = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(n.emb)+1), i -> n.emb[i]*q.emb[i]))
              / (n.nrm * q.nrm) AS cos
          FROM n JOIN n q ON n.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p)
    SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** Mutual k-NN edges ([[graft.ops.Similarity.mutualKnn]]): undirected
    * (d1 < d2) edges present in BOTH endpoints' top-5 — the
    * hub-stripping symmetrization graph curation runs on the raw graph. */
  private def mutualKnnQ(s: SparkSession, d: String): DataFrame =
    Similarity.mutualKnn(Tables.embeddings(s, d)).orderBy("d1", "d2")

  private val mutualKnnSql = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(n.emb)+1), i -> n.emb[i]*q.emb[i]))
              / (n.nrm * q.nrm) AS cos
          FROM n JOIN n q ON n.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p),
    g AS (SELECT query_id, neighbor_id, cos FROM r WHERE rank <= 5),
    e AS (SELECT query_id AS d1, neighbor_id AS d2, cos FROM g
          WHERE query_id < neighbor_id),
    b AS (SELECT neighbor_id AS d1, query_id AS d2 FROM g
          WHERE neighbor_id < query_id)
    SELECT d1, d2, cos FROM e
    WHERE EXISTS (SELECT 1 FROM b WHERE b.d1 = e.d1 AND b.d2 = e.d2)
    ORDER BY d1, d2"""

  /** Mutual-kNN triangle census ([[graft.ops.Similarity.graphTriangles]]):
    * per-vector degree, triangles, local clustering coefficient. Oracle
    * enumerates the same ordered triangles over the all-pairs mutual
    * edges. */
  private def graphTrianglesQ(s: SparkSession, d: String): DataFrame =
    Similarity.graphTriangles(Tables.embeddings(s, d)).orderBy("vec_id")

  private val graphTrianglesSql = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(n.emb)+1), i -> n.emb[i]*q.emb[i]))
              / (n.nrm * q.nrm) AS cos
          FROM n JOIN n q ON n.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p),
    g AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
    e AS (SELECT query_id AS d1, neighbor_id AS d2 FROM g WHERE query_id < neighbor_id),
    bk AS (SELECT neighbor_id AS d1, query_id AS d2 FROM g WHERE neighbor_id < query_id),
    mk AS (SELECT d1, d2 FROM e
           WHERE EXISTS (SELECT 1 FROM bk WHERE bk.d1 = e.d1 AND bk.d2 = e.d2)),
    dir AS (SELECT d1, d2 FROM mk UNION ALL SELECT d2 AS d1, d1 AS d2 FROM mk),
    deg AS (SELECT d1 AS vec_id, COUNT(*)::BIGINT AS degree FROM dir GROUP BY d1),
    tri AS (SELECT ab.d1 AS a, ab.d2 AS b, bc.d2 AS c
            FROM mk ab JOIN mk bc ON ab.d2 = bc.d1
            WHERE EXISTS (SELECT 1 FROM mk ac
                          WHERE ac.d1 = ab.d1 AND ac.d2 = bc.d2)),
    tc AS (SELECT u.m AS vec_id, COUNT(*)::BIGINT AS triangles
           FROM (SELECT unnest([a, b, c]) AS m FROM tri) u GROUP BY u.m)
    SELECT em.vec_id AS vec_id,
           coalesce(deg.degree, 0)::BIGINT AS degree,
           coalesce(tc.triangles, 0)::BIGINT AS triangles,
           CASE WHEN coalesce(deg.degree, 0) >= 2
                THEN (coalesce(tc.triangles, 0) * 2)::DOUBLE
                     / (deg.degree * (deg.degree - 1))::DOUBLE
                ELSE 0.0::DOUBLE END AS local_cc
    FROM embeddings em
    LEFT JOIN deg ON deg.vec_id = em.vec_id
    LEFT JOIN tc ON tc.vec_id = em.vec_id
    ORDER BY em.vec_id"""

  /** Hard-clamp label propagation over the mutual-kNN graph
    * ([[graft.ops.Similarity.labelPropagate]]): seeds = vec_id % 5 == 0,
    * two synchronous majority rounds, ties to the smallest label. The
    * oracle rebuilds the mutual edges with the honest all-pairs rank and
    * unrolls both rounds as CTEs (same majority/tie order). */
  private def labelPropagationQ(s: SparkSession, d: String): DataFrame =
    Similarity.labelPropagate(Tables.embeddings(s, d)).orderBy("vec_id")

  private val labelPropagationSql = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(n.emb)+1), i -> n.emb[i]*q.emb[i]))
              / (n.nrm * q.nrm) AS cos
          FROM n JOIN n q ON n.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p),
    g AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
    e AS (SELECT query_id AS d1, neighbor_id AS d2 FROM g WHERE query_id < neighbor_id),
    bk AS (SELECT neighbor_id AS d1, query_id AS d2 FROM g WHERE neighbor_id < query_id),
    mk AS (SELECT d1, d2 FROM e
           WHERE EXISTS (SELECT 1 FROM bk WHERE bk.d1 = e.d1 AND bk.d2 = e.d2)),
    dir AS (SELECT d1, d2 FROM mk UNION ALL SELECT d2 AS d1, d1 AS d2 FROM mk),
    lab0 AS (SELECT vec_id, label, vec_id % 5 = 0 AS is_seed,
               CASE WHEN vec_id % 5 = 0 THEN label END AS cur FROM embeddings),
    v1 AS (SELECT dir.d1 AS d1, l.cur AS nl, COUNT(*) AS nn FROM dir
           JOIN lab0 l ON l.vec_id = dir.d2 WHERE l.cur IS NOT NULL
           GROUP BY dir.d1, l.cur),
    w1 AS (SELECT d1, nl FROM (SELECT d1, nl, row_number() OVER
             (PARTITION BY d1 ORDER BY nn DESC, nl) AS rn FROM v1) WHERE rn = 1),
    lab1 AS (SELECT lab0.vec_id AS vec_id, label, is_seed,
               CASE WHEN is_seed THEN label ELSE coalesce(w1.nl, lab0.cur) END AS cur
             FROM lab0 LEFT JOIN w1 ON w1.d1 = lab0.vec_id),
    v2 AS (SELECT dir.d1 AS d1, l.cur AS nl, COUNT(*) AS nn FROM dir
           JOIN lab1 l ON l.vec_id = dir.d2 WHERE l.cur IS NOT NULL
           GROUP BY dir.d1, l.cur),
    w2 AS (SELECT d1, nl FROM (SELECT d1, nl, row_number() OVER
             (PARTITION BY d1 ORDER BY nn DESC, nl) AS rn FROM v2) WHERE rn = 1),
    lab2 AS (SELECT lab1.vec_id AS vec_id, label, is_seed,
               CASE WHEN is_seed THEN label ELSE coalesce(w2.nl, lab1.cur) END AS cur
             FROM lab1 LEFT JOIN w2 ON w2.d1 = lab1.vec_id)
    SELECT vec_id, is_seed, cur AS pred_label,
           cur IS NOT NULL AND cur = label AS agrees
    FROM lab2 ORDER BY vec_id"""

  /** JL sign random projection ([[graft.ops.Similarity.randomProjection]]):
    * 64 → 16 dims, matrix signs from portable md5 parity. The oracle
    * rebuilds the same matrix from the same md5 strings and folds each
    * coordinate in the same ascending-index order. */
  private def randomProjectionQ(s: SparkSession, d: String): DataFrame =
    Similarity.randomProjection(Tables.embeddings(s, d)).orderBy("vec_id", "dim")

  /** Shared CTE chain: the md5-parity projection matrix and the projected
    * long-form coordinates (exact-double parity with the engine: per-term
    * double products summed ascending from 0.0). */
  private val rpProjCtes = """rmat AS (
      SELECT j, list(CASE WHEN substr(md5('rp:' || i::VARCHAR || ':' || j::VARCHAR), 32, 1)
                            IN ('1','3','5','7','9','b','d','f')
                          THEN -0.25::DOUBLE ELSE 0.25::DOUBLE END ORDER BY i) AS s
      FROM range(0,64) t1(i), range(0,16) t2(j) GROUP BY j),
    v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
    proj AS (SELECT vec_id, j AS dim,
               list_sum(list_transform(range(1, 65), i -> emb[i] * s[i])) AS y
             FROM v, rmat)"""

  private val randomProjectionSql = s"""
    WITH $rpProjCtes
    SELECT vec_id, dim, y FROM proj ORDER BY vec_id, dim"""

  /** Recall@5 of projected-space exact top-5 vs full-space exact top-5
    * ([[graft.ops.Similarity.rpKnnRecall]]) — the honest measured answer
    * on whether the 4×-smaller space retrieves the same neighbors. */
  private def rpKnnRecallQ(s: SparkSession, d: String): DataFrame =
    Similarity.rpKnnRecall(Tables.embeddings(s, d))

  private val rpKnnRecallSql = s"""
    WITH $rpProjCtes,
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(n.emb)+1), i -> n.emb[i]*q.emb[i]))
              / (n.nrm * q.nrm) AS cos
          FROM n JOIN n q ON n.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p),
    g AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
    pw AS (SELECT vec_id, list(y ORDER BY dim) AS emb FROM proj GROUP BY vec_id),
    n2 AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM pw),
    p2 AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 17), i -> n.emb[i]*q.emb[i]))
               / (n.nrm * q.nrm) AS cos
           FROM n2 n JOIN n2 q ON n.vec_id <> q.vec_id),
    r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank FROM p2),
    g2 AS (SELECT query_id, neighbor_id FROM r2 WHERE rank <= 5),
    agg AS (SELECT (SELECT COUNT(DISTINCT query_id) FROM g)::BIGINT AS n_queries,
                   (SELECT COUNT(*) FROM g)::BIGINT AS n_full,
                   (SELECT COUNT(*) FROM g g1 JOIN g2
                      ON g1.query_id = g2.query_id
                     AND g1.neighbor_id = g2.neighbor_id)::BIGINT AS hits)
    SELECT n_queries, 5 AS k, hits,
           hits::DOUBLE / n_full::DOUBLE AS recall FROM agg"""

  /** Matryoshka truncation eval ([[graft.ops.Similarity.truncationRecall]]):
    * recall@5 of first-16-coordinate exact top-5 vs full-space top-5 — the
    * companion number to `rp_knn_recall` (truncation vs projection). */
  private def truncationRecallQ(s: SparkSession, d: String): DataFrame =
    Similarity.truncationRecall(Tables.embeddings(s, d))

  private val truncationRecallSql = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(n.emb)+1), i -> n.emb[i]*q.emb[i]))
              / (n.nrm * q.nrm) AS cos
          FROM n JOIN n q ON n.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p),
    g AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
    tv AS (SELECT vec_id, emb[1:16] AS emb FROM v),
    n2 AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM tv),
    p2 AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             list_sum(list_transform(range(1, 17), i -> n.emb[i]*q.emb[i]))
               / (n.nrm * q.nrm) AS cos
           FROM n2 n JOIN n2 q ON n.vec_id <> q.vec_id),
    r2 AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank FROM p2),
    g2 AS (SELECT query_id, neighbor_id FROM r2 WHERE rank <= 5),
    agg AS (SELECT (SELECT COUNT(DISTINCT query_id) FROM g)::BIGINT AS n_queries,
                   (SELECT COUNT(*) FROM g)::BIGINT AS n_full,
                   (SELECT COUNT(*) FROM g g1 JOIN g2
                      ON g1.query_id = g2.query_id
                     AND g1.neighbor_id = g2.neighbor_id)::BIGINT AS hits)
    SELECT n_queries, 5 AS k, hits,
           hits::DOUBLE / n_full::DOUBLE AS recall FROM agg"""

  /** Top principal component by power iteration
    * ([[graft.ops.Similarity.pcaPower]]) — the embedding-space anisotropy
    * diagnostic. The oracle replays the WHOLE computation: decimal-exact
    * pair/mean sums, the covariance assembly, eight unrolled
    * matrix-vector CTE iterations from v₀ = 1⃗, the Rayleigh quotient —
    * every float op in the same ascending-index order, so loadings
    * hash-compare bit-for-bit. */
  private def embeddingPca(s: SparkSession, d: String): DataFrame =
    Similarity.pcaPower(Tables.embeddings(s, d)).orderBy("dim")

  /** The PCA chain through `it8` (converged loadings) + `mean` —
    * shared by the diagnostic entry and the all-but-the-top correction. */
  private lazy val pcaCtes: String = {
    val its = (1 to 8).map { k =>
      s"""it$k AS (SELECT mm, list_transform(w, x -> x / sqrt(list_sum(list_transform(w, y -> y * y)))) AS vv
        FROM (SELECT mm, list_transform(mm, row -> list_sum(list_transform(range(1, 65), k2 -> row[k2] * vv[k2]))) AS w
              FROM it${k - 1}))"""
    }.mkString(",\n    ")
    s"""v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings),
    nn AS (SELECT COUNT(*)::DOUBLE AS n FROM v),
    ms AS (SELECT i, CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS s
           FROM (SELECT u.i AS i, u.p AS p FROM
                 (SELECT unnest(list_transform(range(0, 64), i -> {'i': i, 'p': emb[i+1]})) AS u FROM v))
           GROUP BY i),
    mean AS (SELECT i, s / (SELECT n FROM nn) AS m FROM ms),
    ps AS (SELECT i, j, CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS s
           FROM (SELECT u.i AS i, u.j AS j, u.p AS p FROM
                 (SELECT unnest(flatten(list_transform(range(0, 64), i ->
                    list_transform(range(i, 64), j ->
                      {'i': i, 'j': j, 'p': emb[i+1] * emb[j+1]})))) AS u FROM v))
           GROUP BY i, j),
    cv0 AS (SELECT ps.i AS i, ps.j AS j,
              (s - (SELECT n FROM nn) * m1.m * m2.m) / (SELECT n FROM nn) AS c
            FROM ps JOIN mean m1 ON ps.i = m1.i JOIN mean m2 ON ps.j = m2.i),
    cfull AS (SELECT i, j, c FROM cv0
              UNION ALL SELECT j AS i, i AS j, c FROM cv0 WHERE i <> j),
    cm AS (SELECT i, list(c ORDER BY j) AS row FROM cfull GROUP BY i),
    cmat AS (SELECT list(row ORDER BY i) AS mm FROM cm),
    it0 AS (SELECT mm, list_transform(range(0, 64), x -> 1.0) AS vv FROM cmat),
    $its"""
  }

  private lazy val embeddingPcaSql: String = s"""
    WITH $pcaCtes,
    fin AS (SELECT mm, vv,
              list_transform(mm, row -> list_sum(list_transform(range(1, 65), k2 -> row[k2] * vv[k2]))) AS cvv
            FROM it8),
    agg AS (SELECT vv,
              list_sum(list_transform(range(1, 65), k2 -> cvv[k2] * vv[k2])) AS lam,
              list_sum(list_transform(range(1, 65), k2 -> mm[k2][k2])) AS tr
            FROM fin)
    SELECT CAST(t.k - 1 AS BIGINT) AS dim, m.m AS mean, vv[t.k] AS pc1_loading,
           lam AS eigenvalue, tr AS cov_trace, lam / tr AS explained_ratio
    FROM agg, range(1, 65) t(k) JOIN mean m ON m.i = t.k - 1
    ORDER BY dim"""

  /** All-but-the-top correction
    * ([[graft.ops.Similarity.removeTopComponent]]): per vector, the PC1
    * coordinate and the centered/residual norms after projecting the
    * corpus top component out — the anisotropy FIX next to the
    * diagnostic, every fold in the same ascending-index order. */
  private def removeTopComponentQ(s: SparkSession, d: String): DataFrame =
    Similarity.removeTopComponent(Tables.embeddings(s, d)).orderBy("vec_id")

  private lazy val removeTopComponentSql: String = s"""
    WITH $pcaCtes,
    ml AS (SELECT list(m ORDER BY i) AS m FROM mean),
    pv AS (SELECT vv FROM it8),
    ctr AS (SELECT vec_id,
              list_transform(range(1, 65), k -> emb[k] - m[k]) AS c
            FROM v CROSS JOIN ml),
    proj AS (SELECT vec_id, c,
               list_sum(list_transform(range(1, 65), k -> c[k] * vv[k])) AS pc1_coord
             FROM ctr CROSS JOIN pv)
    SELECT vec_id, pc1_coord,
           sqrt(list_sum(list_transform(c, x -> x * x))) AS norm_centered,
           sqrt(list_sum(list_transform(range(1, 65),
             k -> (c[k] - pc1_coord * vv[k]) * (c[k] - pc1_coord * vv[k]))))
             AS norm_residual
    FROM proj CROSS JOIN pv
    ORDER BY vec_id"""

  /** Connected components over the mutual k-NN graph
    * ([[graft.ops.Dedup.clusters]] on [[graft.ops.Similarity.mutualKnn]])
    * — the graph-clustering step after symmetrization: mutual edges have
    * degree ≤ k by construction, so the component loop's per-round
    * shuffles stay corpus×k-bounded (the property that makes THIS graph,
    * not the raw directed one, the clustering substrate). Same
    * pointer-jumping label propagation as the dedup components —
    * pair generation and clustering stay composable operators. */
  private def mutualKnnClusters(s: SparkSession, d: String): DataFrame =
    Dedup.clusters(
        Similarity.mutualKnn(Tables.embeddings(s, d)).select("d1", "d2"))
      .toDF("vec_id", "cluster_id", "cluster_size")
      .orderBy("vec_id")

  private val mutualKnnClustersSql = """
    WITH RECURSIVE v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    p AS (SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(n.emb)+1), i -> n.emb[i]*q.emb[i]))
              / (n.nrm * q.nrm) AS cos
          FROM n JOIN n q ON n.vec_id <> q.vec_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p),
    g AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 5),
    e0 AS (SELECT query_id AS d1, neighbor_id AS d2 FROM g
           WHERE query_id < neighbor_id
             AND EXISTS (SELECT 1 FROM g b
                         WHERE b.query_id = g.neighbor_id
                           AND b.neighbor_id = g.query_id)),
    e AS (SELECT d1 AS src, d2 AS dst FROM e0 UNION SELECT d2, d1 FROM e0),
    reach AS (
      SELECT src AS id, dst AS r FROM e
      UNION
      SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
    lab AS (SELECT id, least(id, MIN(r)) AS cluster_id FROM reach GROUP BY id)
    SELECT id AS vec_id, cluster_id, CAST(n AS BIGINT) AS cluster_size
    FROM lab JOIN (SELECT cluster_id, COUNT(*) AS n FROM lab GROUP BY 1) c
      USING (cluster_id)
    ORDER BY vec_id"""

  /** Hard-negative mining ([[graft.ops.Similarity.hardNegatives]]): per
    * query, top-5 highest-cosine vectors with a DIFFERENT label — the
    * near-miss negatives a contrastive trainer batches. Same query set
    * and scoring machinery as knn_bruteforce; oracle adds the
    * label-inequality predicate. */
  private def hardNegatives(s: SparkSession, d: String): DataFrame =
    Similarity.hardNegatives(Tables.embeddings(s, d), queries(s, d))
      .orderBy("query_id", "rank")

  private val hardNegativesSql = """
    WITH v AS (SELECT vec_id, label, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    n AS (SELECT vec_id, label, emb,
            sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm FROM v),
    q AS (SELECT vec_id AS query_id, label AS q_label, emb AS q_emb, nrm AS q_nrm
          FROM n WHERE vec_id < 20),
    p AS (SELECT query_id, vec_id AS neighbor_id,
            list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*q_emb[i]))
              / (nrm * q_nrm) AS cos
          FROM n JOIN q ON label <> q_label),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank FROM p)
    SELECT query_id, rank, neighbor_id, cos FROM r WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** ANN recall measurement — the tuning read-out every approximate
    * search deployment runs before trusting an index: recall@5 of the
    * sublinear LSH path against the exact brute-force top-5 over the same
    * queries, as ONE summary row. Both pipelines are the registry's own
    * (same banding literals, same tie order), the hit count is an
    * id-level semi-join (no float comparison enters the metric), and the
    * recall is a long/long IEEE division — fully oracle-hashed, unlike an
    * acceptance-flag check. Truth side is candidate-sized (|queries| × 5
    * ids), so the metric costs one extra broadcast join over the two
    * searches.
    *
    * Read the NUMBER against the LSH recall model (Similarity scaladoc):
    * on this synthetic corpus the true top-5 are LOW-cosine (random
    * vectors are near-orthogonal), far below the r=12 collision cliff, so
    * recall@5 ≈ 0.09 here is the CORRECT verdict — "this corpus's nearest
    * neighbors are not high-cosine; don't serve them from sign-LSH" — the
    * decision input the operator exists to produce. A corpus with real
    * near-dup structure scores near 1 (SimilaritySpec's high-recall
    * tuning case); knn_ivf_partial's 0.86 shows the IVF path's number. */
  private def annRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val truth = Similarity.knnBruteForce(emb, queries(s, d))
      .select($"query_id", $"neighbor_id")
    val approx = Similarity.knnLsh(emb, queries(s, d))
      .select($"query_id", $"neighbor_id")
    val hit = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(countDistinct($"query_id").as("n_queries"),
        count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select($"n_queries", $"n_truth", $"n_hit",
        ($"n_hit" / $"n_truth").as("recall_at_5"))
  }

  private lazy val annRecallSql = s"""$lshBaseSql,
    qb AS (SELECT vec_id AS query_id, band, band_val FROM b WHERE vec_id < 20),
    c AS (SELECT DISTINCT b.vec_id, qb.query_id
          FROM b JOIN qb ON b.band = qb.band AND b.band_val = qb.band_val
          WHERE b.vec_id <> qb.query_id),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1,65), i -> a.emb[i]*q.emb[i]))/(a.nrm*q.nrm) AS cos
               FROM c JOIN n a ON c.vec_id = a.vec_id JOIN n q ON c.query_id = q.vec_id),
    lr AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank FROM scored),
    lsh5 AS (SELECT query_id, neighbor_id FROM lr WHERE rank <= 5),
    q2 AS (SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id < 20),
    p2 AS (SELECT query_id, vec_id AS neighbor_id,
             list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*q_emb[i]))
               / (nrm * q_nrm) AS cos
           FROM n JOIN q2 ON vec_id <> query_id),
    br AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                        ORDER BY cos DESC, neighbor_id) AS rank FROM p2),
    bf5 AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
    m AS (SELECT (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM bf5) AS n_queries,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM bf5) AS n_truth,
                 (SELECT CAST(COUNT(*) AS BIGINT)
                  FROM bf5 JOIN lsh5 USING (query_id, neighbor_id)) AS n_hit)
    SELECT n_queries, n_truth, n_hit, n_hit::DOUBLE / n_truth AS recall_at_5 FROM m"""

  /** IVF ANN through the registry at full probe (nprobe = nLists): probing
    * every list searches every vector, so the exact brute-force oracle
    * applies bit-for-bit (SimilaritySpec separately proves the recall ramp
    * at partial probe — the production setting is nprobe ≪ nLists ≈ √n). */
  private def knnIvf(s: SparkSession, d: String): DataFrame = {
    val data = Tables.embeddings(s, d)
    val model = Ivf.fit(data, nLists = 8, iters = 2)
    Ivf.search(model, data, queries(s, d), k = 5, nprobe = 8)
      .orderBy("query_id", "rank")
  }

  /** Product quantization, fully oracle-replayed: the fit is deterministic
    * (lowest-16 seeds, one exact-decimal Lloyd round) and every distance is
    * a left-to-right double fold, so DuckDB recomputes codebooks, codes and
    * ADC totals bit-for-bit. m=8 subspaces × 16 codes over the 64-dim
    * vectors = 8 codes/vector (32× compression of the candidate set). */
  private def pqFit(s: SparkSession, d: String): (graft.ops.Pq.PqModel, DataFrame) = {
    val data = Tables.embeddings(s, d)
    (graft.ops.Pq.fit(data, m = 8, ncodes = 16, iters = 1), data)
  }

  private def pqEncode(s: SparkSession, d: String): DataFrame = {
    val (model, data) = pqFit(s, d)
    graft.ops.Pq.encode(model, data).orderBy("vec_id", "sub")
  }

  private def knnPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (model, data) = pqFit(s, d)
    graft.ops.Pq.search(model, graft.ops.Pq.encode(model, data),
        data.filter($"vec_id" < 20), k = 5)
      .orderBy("query_id", "rank")
  }

  /** Shared PQ replay: subvectors → seed codebooks → one Lloyd round
    * (decimal-exact means) → final assignment. Mirrors Pq.fit/encode
    * exactly — same folds, same tie-breaks, same rounding. */
  private val pqBaseSql = """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    sv AS (SELECT vec_id, s.sub AS sub, emb[s.sub*8+1 : s.sub*8+8] AS svec
           FROM v, (SELECT unnest(range(0, 8)) AS sub) s),
    svn AS (SELECT vec_id, sub, svec,
              list_sum(list_transform(svec, x -> x*x)) AS sn FROM sv),
    seeds AS (SELECT sub,
                CAST(row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS INTEGER) AS code,
                svec AS cvec, sn AS cn
              FROM svn
              WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
    d0 AS (SELECT svn.vec_id, svn.sub, seeds.code,
             svn.sn - 2.0 * list_sum(list_transform(range(1, 9),
               i -> svn.svec[i] * seeds.cvec[i])) + seeds.cn AS d2
           FROM svn JOIN seeds ON svn.sub = seeds.sub),
    asg0 AS (SELECT vec_id, sub, code
             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                                ORDER BY d2, code) AS rn FROM d0)
             WHERE rn = 1),
    cbdim AS (SELECT sub, code, u.pos AS pos,
                CAST(SUM(CAST(u.x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(u.x) AS mv
              FROM (SELECT a.sub, a.code,
                      unnest([{'pos': i-1, 'x': n.svec[i]} for i in range(1, 9)]) AS u
                    FROM asg0 a JOIN svn n ON a.vec_id = n.vec_id AND a.sub = n.sub)
              GROUP BY sub, code, u.pos),
    cbn AS (SELECT sub, code, cvec,
              list_sum(list_transform(cvec, x -> x*x)) AS cn
            FROM (SELECT sub, code, list(mv ORDER BY pos) AS cvec
                  FROM cbdim GROUP BY sub, code)),
    d1 AS (SELECT svn.vec_id, svn.sub, cbn.code,
             svn.sn - 2.0 * list_sum(list_transform(range(1, 9),
               i -> svn.svec[i] * cbn.cvec[i])) + cbn.cn AS d2
           FROM svn JOIN cbn ON svn.sub = cbn.sub),
    codes AS (SELECT vec_id, sub, code
              FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                                 ORDER BY d2, code) AS rn FROM d1)
              WHERE rn = 1)"""

  private val pqEncodeSql = s"""$pqBaseSql
    SELECT vec_id, sub, code FROM codes ORDER BY vec_id, sub"""

  private val knnPqSql = s"""$pqBaseSql,
    qsv AS (SELECT vec_id AS query_id, sub, svec, sn FROM svn WHERE vec_id < 20),
    qtab AS (SELECT query_id, q.sub, cbn.code,
               q.sn - 2.0 * list_sum(list_transform(range(1, 9),
                 i -> q.svec[i] * cbn.cvec[i])) + cbn.cn AS d
             FROM qsv q JOIN cbn ON q.sub = cbn.sub),
    scored AS (SELECT query_id, c.vec_id AS neighbor_id,
                 CAST(SUM(CAST(d AS DECIMAL(38,6))) AS DOUBLE) AS adc_d2
               FROM codes c JOIN qtab t ON c.sub = t.sub AND c.code = t.code
               WHERE c.vec_id <> t.query_id
               GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_d2, neighbor_id) AS rank
          FROM scored)
    SELECT query_id, rank, neighbor_id, adc_d2 FROM r WHERE rank <= 5
    ORDER BY query_id, rank"""

  /** IVFPQ at full probe: the coarse quantizer admits every list, so the
    * candidate set is all vectors and the result must equal plain PQ ADC —
    * the knn_pq oracle applies verbatim to the composed path (SimilaritySpec
    * separately proves the partial-probe recall ramp). */
  private def knnIvfPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (model, data) = pqFit(s, d)
    val ivf = graft.ops.Ivf.fit(data, nLists = 8, iters = 2)
    graft.ops.Pq.searchIvf(model, ivf, graft.ops.Pq.encode(model, data),
        data.filter($"vec_id" < 20), k = 5, nprobe = 8)
      .orderBy("query_id", "rank")
  }

  /** SemDeDup-style embedding-cluster dedup (see
    * [[Similarity.semanticDedup]]): deterministic m=1 PQ k-means clusters,
    * within-cluster lower-id cosine pruning. */
  private def dedupSemantic(s: SparkSession, d: String): DataFrame =
    Similarity.semanticDedup(Tables.embeddings(s, d), nClusters = 16, tau = 0.4)
      .orderBy("vec_id")

  /** Oracle: the [[pqBaseSql]] replay at m = 1 (whole vector, 64 dims) —
    * same seeds, same exact-decimal Lloyd round, same tie-breaks — then
    * the within-cluster pair max over lower ids. Cluster state and the
    * self-joined pair CTE are MATERIALIZED (each is referenced multiple
    * times; default inlining would replay the whole Lloyd chain per
    * reference). */
  /** Shared oracle CTE body replaying the deterministic m=1 PQ coarse
    * quantizer (lowest-16 seeds, one exact-decimal Lloyd round, code-id
    * tie-breaks): `cbn` = refined full-vector codebook with norms, `cl` =
    * cluster assignments, `nn` = vectors with L2 norms. Composed by BOTH
    * dedup_semantic and knn_ivf_partial. */
  private val semanticClusterCtes = """v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    svn AS MATERIALIZED (SELECT vec_id, emb AS svec,
             list_sum(list_transform(emb, x -> x*x)) AS sn FROM v),
    seeds AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
                     svec AS cvec, sn AS cn
              FROM svn
              WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)),
    d0 AS (SELECT svn.vec_id, seeds.code,
             svn.sn - 2.0 * list_sum(list_transform(range(1, 65),
               i -> svn.svec[i] * seeds.cvec[i])) + seeds.cn AS d2
           FROM svn, seeds),
    asg0 AS (SELECT vec_id, code
             FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                                ORDER BY d2, code) AS rn FROM d0)
             WHERE rn = 1),
    cbdim AS (SELECT code, u.pos AS pos,
                CAST(SUM(CAST(u.x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(u.x) AS mv
              FROM (SELECT a.code,
                      unnest([{'pos': i-1, 'x': n.svec[i]} for i in range(1, 65)]) AS u
                    FROM asg0 a JOIN svn n ON a.vec_id = n.vec_id)
              GROUP BY code, u.pos),
    cbn AS MATERIALIZED (SELECT code, cvec, list_sum(list_transform(cvec, x -> x*x)) AS cn
            FROM (SELECT code, list(mv ORDER BY pos) AS cvec
                  FROM cbdim GROUP BY code)),
    d1 AS (SELECT svn.vec_id, cbn.code,
             svn.sn - 2.0 * list_sum(list_transform(range(1, 65),
               i -> svn.svec[i] * cbn.cvec[i])) + cbn.cn AS d2
           FROM svn, cbn),
    cl AS MATERIALIZED (SELECT vec_id, code AS cluster_id
          FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                             ORDER BY d2, code) AS rn FROM d1)
          WHERE rn = 1),
    nn AS MATERIALIZED (SELECT vec_id, svec, sqrt(sn) AS nrm FROM svn)"""

  private val dedupSemanticSql = s"""
    WITH $semanticClusterCtes,
    p AS (SELECT cb.vec_id AS vec_id,
            list_sum(list_transform(range(1, 65), i -> a.svec[i] * b.svec[i]))
              / (a.nrm * b.nrm) AS cos
          FROM cl ca JOIN cl cb
            ON ca.cluster_id = cb.cluster_id AND ca.vec_id < cb.vec_id
          JOIN nn a ON ca.vec_id = a.vec_id
          JOIN nn b ON cb.vec_id = b.vec_id),
    mx AS (SELECT vec_id, MAX(cos) AS max_lower_cos FROM p GROUP BY vec_id)
    SELECT cl.vec_id AS vec_id, cluster_id, max_lower_cos,
           COALESCE(max_lower_cos >= 0.4, FALSE) AS is_dup
    FROM cl LEFT JOIN mx USING (vec_id)
    ORDER BY vec_id"""

  /** PARTIAL-probe ANN through the registry — the production setting
    * (nprobe ≪ nLists) as an oracle-CHECKED query, not just a spec-pinned
    * recall ramp: coarse quantizer = the deterministic m=1 PQ k-means
    * (the dedup_semantic clustering, replayed bit-for-bit by the shared
    * CTE body), each query ranks the 16 centroids by the SAME exact L2
    * form the assignment uses (‖q‖² − 2q·c + ‖c‖², code-id ties), probes
    * its 4 nearest lists, and exact cosine ranks ONLY those lists'
    * members. knn_ivf / knn_ivf_disk run full probe so the brute-force
    * oracle applies; this entry is the honest partial-probe answer —
    * including its recall misses — replayed exactly by DuckDB. */
  private def knnIvfPartial(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions._
    val emb = Tables.embeddings(s, d)
    val model = graft.ops.Pq.fit(emb, m = 1, ncodes = 16, iters = 1)
    val clusters = graft.ops.Pq.encode(model, emb)
      .select($"vec_id", $"code".as("cluster_id"))
    val vecs = emb.select($"vec_id", toDouble($"embedding").as("emb"))
      .withColumn("nrm", norm($"emb"))
    val q = vecs.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"),
        normSq($"emb").as("qn"))
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d2", $"code")
    val probed = q
      .crossJoin(broadcast(model.codebook.select($"code", $"cvec", $"cn")))
      .select($"query_id", $"q_emb", $"q_nrm", $"code",
        ($"qn" - lit(2.0) * dot($"q_emb", $"cvec") + $"cn").as("d2"))
      .withColumn("rn", row_number().over(byQuery))
      .filter($"rn" <= 4)
      .select($"query_id", $"q_emb", $"q_nrm", $"code".as("cluster_id"))
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
    probed.join(clusters, "cluster_id")
      .filter($"vec_id" =!= $"query_id")
      .join(vecs, "vec_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosinePrenormed($"emb", $"q_emb", $"nrm", $"q_nrm").as("cos"))
      .withColumn("rank", row_number().over(rank))
      .filter($"rank" <= 5)
      .select($"query_id", $"rank", $"neighbor_id", $"cos")
      .orderBy("query_id", "rank")
  }

  private val knnIvfPartialSql = s"""
    WITH $semanticClusterCtes,
    q AS (SELECT vec_id AS query_id, svec AS q_emb, sn AS qn, sqrt(sn) AS q_nrm
          FROM svn WHERE vec_id < 20),
    ld AS (SELECT q.query_id, cbn.code,
             q.qn - 2.0 * list_sum(list_transform(range(1, 65),
               i -> q.q_emb[i] * cbn.cvec[i])) + cbn.cn AS d2
           FROM q CROSS JOIN cbn),
    probed AS (SELECT query_id, code AS cluster_id
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                  ORDER BY d2, code) AS rn
                     FROM ld)
               WHERE rn <= 4),
    cand AS (SELECT p2.query_id, cl.vec_id
             FROM probed p2 JOIN cl USING (cluster_id)
             WHERE cl.vec_id <> p2.query_id),
    scored AS (SELECT c.query_id, c.vec_id AS neighbor_id,
                 list_sum(list_transform(range(1, 65),
                   i -> a.svec[i] * b.svec[i])) / (a.nrm * b.nrm) AS cos
               FROM cand c
               JOIN nn a ON c.query_id = a.vec_id
               JOIN nn b ON c.vec_id = b.vec_id)
    SELECT query_id, rank, neighbor_id, cos
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5 ORDER BY query_id, rank"""

  /** The IVF twin of `ann_recall`: recall@5 of the honest partial-probe
    * IVF pipeline (nprobe=4 of 16 lists — the production setting
    * `knn_ivf_partial` runs) against the exact brute-force top-5, one
    * oracle-hashed summary row. Where ann_recall's 0.09 says "this
    * corpus's kNN can't be served from sign-LSH", this one reads ≈0.86 —
    * coarse-quantized probing DOES work here — the pair of numbers IS
    * the index-selection decision. */
  private def ivfRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val truth = Similarity.knnBruteForce(Tables.embeddings(s, d), queries(s, d))
      .select($"query_id", $"neighbor_id")
    val approx = knnIvfPartial(s, d).select($"query_id", $"neighbor_id")
    val hit = truth.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
    truth.agg(countDistinct($"query_id").as("n_queries"),
        count(lit(1)).as("n_truth"))
      .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
      .select($"n_queries", $"n_truth", $"n_hit",
        ($"n_hit" / $"n_truth").as("recall_at_5"))
  }

  private lazy val ivfRecallSql = s"""
    WITH p5 AS (SELECT query_id, neighbor_id FROM ($knnIvfPartialSql)),
    bf5 AS (SELECT query_id, neighbor_id FROM ($knnBruteForceSql)),
    m AS (SELECT (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM bf5) AS n_queries,
                 (SELECT CAST(COUNT(*) AS BIGINT) FROM bf5) AS n_truth,
                 (SELECT CAST(COUNT(*) AS BIGINT)
                  FROM bf5 JOIN p5 USING (query_id, neighbor_id)) AS n_hit)
    SELECT n_queries, n_truth, n_hit, n_hit::DOUBLE / n_truth AS recall_at_5 FROM m"""

  /** Greedy farthest-point k-center coreset (see [[Similarity.kCenter]]):
    * 8 rounds, each selecting the vector with the lowest running
    * max-cosine to the already-chosen centers (ties to the lower id). */
  private def coresetKcenter(s: SparkSession, d: String): DataFrame =
    Similarity.kCenter(Tables.embeddings(s, d), k = 8)
      .orderBy("round_idx")

  /** Oracle: the k selection rounds unrolled as MATERIALIZED CTEs (the
    * round chain is self-referencing — default inlining would grow the
    * tree ~3^rounds, the bpe_train lesson). Per round: the running
    * max_cos update is the same left-to-right double dot-product fold,
    * and the argmin is row_number ORDER BY (max_cos, vec_id) — the
    * proven min(struct) twin. */
  private def coresetKcenterSql(k: Int): String = {
    def dot(a: String, b: String) =
      s"list_sum(list_transform(range(1, len($a)+1), i -> $a[i]*$b[i]))"
    val rounds = (1 until k).map { r =>
      val cosStep = s"${dot("emb", "c_emb")} / (nrm * c_nrm)"
      val upd = if (r == 1) cosStep else s"greatest(max_cos, $cosStep)"
      val prevS = if (r == 1) "p" else s"s${r - 1}"
      s"""
    s$r AS MATERIALIZED (
      SELECT vec_id, emb, nrm, $upd AS max_cos
      FROM $prevS CROSS JOIN c${r - 1}),
    c$r AS MATERIALIZED (
      SELECT vec_id AS center_id, emb AS c_emb, nrm AS c_nrm,
             max_cos AS sel_cos
      FROM (SELECT vec_id, emb, nrm, max_cos,
                   row_number() OVER (ORDER BY max_cos, vec_id) AS rn
            FROM s$r)
      WHERE rn = 1)"""
    }.mkString(",")
    val sel = (1 until k).map(r =>
      s"    UNION ALL SELECT center_id, $r AS round_idx, sel_cos FROM c$r")
      .mkString("\n")
    s"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
               FROM embeddings),
    p AS MATERIALIZED (
      SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm
      FROM v),
    c0 AS MATERIALIZED (
      SELECT vec_id AS center_id, emb AS c_emb, nrm AS c_nrm
      FROM p WHERE vec_id = (SELECT min(vec_id) FROM p)),$rounds
    SELECT center_id, 0 AS round_idx, CAST(NULL AS DOUBLE) AS sel_cos FROM c0
$sel
    ORDER BY round_idx"""
  }

  /** Hybrid retrieval: the BM25 top-50 lexical list fused with the
    * dense top-50 (cosine to vec 0's embedding, the query anchor) by
    * reciprocal-rank fusion — see [[graft.ops.Retrieval.rrfFuse]]. Both
    * lists are candidate-sized; the fusion never touches the corpus. */
  private def hybridRrf(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextAnalysis.bm25Rank(Tables.documents(s, d),
        Seq("table", "merge", "scan"), k = 50)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
      .select(col("doc_id"), col("rank"))
    val emb = Tables.embeddings(s, d)
    val dense = graft.ops.Similarity
      .knnBruteForce(emb, emb.filter(col("vec_id") === 0L), k = 50)
      .select(col("neighbor_id").as("doc_id"), col("rank"))
    graft.ops.Retrieval.rrfFuse(lex, dense)
  }

  /** Oracle: both retriever lists replayed (the bm25_rank and
    * knn_bruteforce shapes), fused with the same fixed-order reciprocal
    * sum; literals CAST to DOUBLE so DuckDB's decimal literals can't
    * change the arithmetic. */
  private val hybridRrfSql = """
    WITH t AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
               FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs,
                CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) / COUNT(dl) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM t WHERE tok IN ('table', 'merge', 'scan') GROUP BY 1, 2),
    df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
           FROM t WHERE tok IN ('table', 'merge', 'scan') GROUP BY tok),
    scored AS (
      SELECT doc_id,
             CAST(SUM(CAST(
               (((n_docs - df + 0.5) / (df + 0.5)) + 1.0) *
               ((tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / avgdl))))
             AS DECIMAL(38,6))) AS DOUBLE) AS bm25
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), stats
      GROUP BY doc_id),
    top50 AS (SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50),
    lex AS (SELECT doc_id,
              row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
            FROM top50),
    v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb
          FROM embeddings),
    n AS (SELECT vec_id, emb, sqrt(list_sum(list_transform(emb, x -> x*x))) AS nrm
          FROM v),
    q AS (SELECT emb AS q_emb, nrm AS q_nrm FROM n WHERE vec_id = 0),
    p AS (SELECT vec_id AS doc_id,
            list_sum(list_transform(range(1, len(emb)+1), i -> emb[i]*q_emb[i]))
              / (nrm * q_nrm) AS cos
          FROM n CROSS JOIN q WHERE vec_id <> 0),
    den AS (SELECT doc_id, rank_dense
            FROM (SELECT doc_id,
                    row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_dense
                  FROM p)
            WHERE rank_dense <= 50)
    SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.rank_lex, d.rank_dense,
           COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + l.rank_lex),
                    CAST(0.0 AS DOUBLE)) +
           COALESCE(CAST(1.0 AS DOUBLE) / (CAST(60 AS DOUBLE) + d.rank_dense),
                    CAST(0.0 AS DOUBLE)) AS rrf
    FROM lex l FULL OUTER JOIN den d ON l.doc_id = d.doc_id
    ORDER BY rrf DESC, doc_id LIMIT 20"""

  /** BM25 against a fixed in-corpus query term set; rational IDF so both
    * engines rank bit-identically (see TextAnalysis.bm25Rank). */
  private def bm25Rank(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bm25Rank(Tables.documents(s, d),
        Seq("table", "merge", "scan"))
      .orderBy(col("bm25").desc, col("doc_id"))

  private val bm25RankSql = """
    WITH t AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS tok
               FROM documents),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY doc_id),
    stats AS (SELECT COUNT(*) AS n_docs,
                CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE) / COUNT(dl) AS avgdl
              FROM dl),
    tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM t WHERE tok IN ('table', 'merge', 'scan') GROUP BY 1, 2),
    df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
           FROM t WHERE tok IN ('table', 'merge', 'scan') GROUP BY tok),
    scored AS (
      SELECT doc_id,
             CAST(SUM(CAST(
               (((n_docs - df + 0.5) / (df + 0.5)) + 1.0) *
               ((tf * 2.2) / (tf + 1.2 * ((1.0 - 0.75) + 0.75 * (dl / avgdl))))
             AS DECIMAL(38,6))) AS DOUBLE) AS bm25
      FROM tf JOIN df USING (tok) JOIN dl USING (doc_id), stats
      GROUP BY doc_id)
    SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50"""

  /** Train/eval decontamination: every 10th doc stands in for the benchmark
    * set (spread across the corpus so planted near-dups cross the split),
    * the rest are the training corpus. The Spark side joins on xxhash64 of
    * the 8-gram; the oracle joins on the 8-gram STRING — identical
    * membership (the hash is injective on the join outcome short of 64-bit
    * collisions), so the per-doc distinct-hit counts match exactly. */
  private def decontaminate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    Dedup.decontaminate(
        all.filter($"doc_id" % 10 =!= 0), all.filter($"doc_id" % 10 === 0), n = 8)
      .orderBy("doc_id")
  }

  private val decontaminateSql = """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    g AS (SELECT DISTINCT doc_id,
            unnest([list_aggregate(w[i:i+7], 'string_agg', ' ')
                    for i in range(1, len(w)-6)]) AS g8
          FROM t WHERE len(w) >= 8),
    bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id % 10 = 0),
    hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
             FROM (SELECT DISTINCT doc_id, g8 FROM g WHERE doc_id % 10 <> 0) c
             WHERE g8 IN (SELECT g8 FROM bench) GROUP BY doc_id)
    SELECT d.doc_id, COALESCE(n, 0) AS n_contaminated_ngrams,
           COALESCE(n, 0) > 0 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      LEFT JOIN hits USING (doc_id)
    ORDER BY doc_id"""

  /** Graded contamination over the same benchmark split as `decontaminate`:
    * the per-doc fraction of distinct 8-grams colliding with the benchmark.
    * Hash-vs-string join equivalence as in the decontaminate oracle; the
    * score is an int/int IEEE division both engines compute identically. */
  private def contaminationScore(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    Dedup.contaminationScore(
        all.filter($"doc_id" % 10 =!= 0), all.filter($"doc_id" % 10 === 0), n = 8)
      .orderBy("doc_id")
  }

  private val contaminationScoreSql = """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    g AS (SELECT DISTINCT doc_id,
            unnest([list_aggregate(w[i:i+7], 'string_agg', ' ')
                    for i in range(1, len(w)-6)]) AS g8
          FROM t WHERE len(w) >= 8),
    bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id % 10 = 0),
    sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_distinct_ngrams,
             CAST(SUM(CASE WHEN g8 IN (SELECT g8 FROM bench) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit_ngrams
           FROM g WHERE doc_id % 10 <> 0 GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(n_distinct_ngrams, 0) AS n_distinct_ngrams,
           COALESCE(n_hit_ngrams, 0) AS n_hit_ngrams,
           CASE WHEN n_distinct_ngrams IS NULL THEN 0.0
                ELSE n_hit_ngrams::DOUBLE / n_distinct_ngrams END AS contamination_score
    FROM (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0) d
      LEFT JOIN sc USING (doc_id)
    ORDER BY doc_id"""

  /** Contamination-threshold tuning curve — the removable-threshold read
    * behind the graded score ("drop if more than X% of a doc's 8-grams
    * appear in an eval set"): for each candidate cut, how many corpus
    * docs get dropped and how much n-gram mass goes with them (the
    * token-cost proxy of the decision — a cut that flags 1% of docs but
    * 30% of n-grams is flagging the long tail a pipeline usually wants to
    * KEEP). The per-doc score frame ([[Dedup.contaminationScore]] over
    * the same benchmark split as `contamination_score`) computes ONCE,
    * LRU-persisted as bare signals; the sweep explodes 5 thresholds onto
    * it and aggregates map-side. The t = 0.0 point is anchored to
    * `decontaminate`'s boolean flag (score > 0 ⇔ contaminated;
    * TuningCurveSpec pins it). */
  private def contaminationThresholdCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    val sig = graft.ops.InternalCaches.persistBounded(
      Dedup.contaminationScore(
          all.filter($"doc_id" % 10 =!= 0), all.filter($"doc_id" % 10 === 0),
          n = 8)
        .select($"contamination_score", $"n_distinct_ngrams"))
    sig
      .select($"contamination_score", $"n_distinct_ngrams",
        explode(array(Seq(0.0, 0.05, 0.1, 0.2, 0.4).map(lit): _*))
          .as("threshold"))
      .groupBy($"threshold")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"contamination_score" > $"threshold", 1L).otherwise(0L))
          .as("n_flagged"),
        sum(when($"contamination_score" > $"threshold", $"n_distinct_ngrams")
          .otherwise(0L)).as("flagged_ngrams"))
      .select($"threshold", $"n_docs", $"n_flagged",
        ($"n_flagged".cast("double") / $"n_docs").as("flag_rate"),
        $"flagged_ngrams")
      .orderBy("threshold")
  }

  private lazy val contaminationThresholdCurveSql: String = s"""
    WITH cs AS (SELECT * FROM ($contaminationScoreSql))
    SELECT CAST(t AS DOUBLE) AS threshold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN contamination_score > t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           SUM(CASE WHEN contamination_score > t THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*) AS flag_rate,
           CAST(SUM(CASE WHEN contamination_score > t
                         THEN n_distinct_ngrams ELSE 0 END)
                AS BIGINT) AS flagged_ngrams
    FROM cs, (VALUES (0.0), (0.05), (0.1), (0.2), (0.4)) v(t)
    GROUP BY t ORDER BY threshold"""

  /** Shared-span pairs over md5 winnowing fingerprints so the oracle can
    * replay every window minimum; the stop-fingerprint df cap and the
    * shared-count threshold are both replayed in SQL. */
  private def spanDedup(s: SparkSession, d: String): DataFrame =
    Dedup.spanDedup(Tables.documents(s, d), minShared = 2, maxDf = 16,
        shingleHash = c => md5(c.cast("binary")))
      .orderBy("d1", "d2")

  /** The md5-winnowing span-pair CTE chain shared by the three span
    * oracles, ending in `sp(d1, d2, n_shared)`. */
  private val spanPairsCtes = """t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    h AS (SELECT doc_id,
            [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
             for i in range(1, len(w)-3)] AS hs
          FROM t WHERE len(w) >= 5),
    f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
            THEN list_sort(list_distinct(
                   [list_aggregate(hs[i:i+3], 'min') for i in range(1, len(hs)-2)]))
            ELSE [list_aggregate(hs, 'min')] END AS fp
          FROM h),
    fp AS (SELECT doc_id, unnest(fp) AS fp_hash FROM f),
    rare AS (SELECT fp_hash FROM fp GROUP BY fp_hash HAVING COUNT(*) <= 16),
    fpf AS (SELECT doc_id, fp_hash FROM fp WHERE fp_hash IN (SELECT fp_hash FROM rare)),
    sp AS (SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM fpf a JOIN fpf b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           GROUP BY 1, 2 HAVING COUNT(*) >= 2)"""

  private val spanDedupSql = s"""
    WITH $spanPairsCtes
    SELECT d1, d2, n_shared FROM sp ORDER BY d1, d2"""

  /** ExactSubstr remove-the-span dedup ([[graft.ops.Dedup.exactSubstrSpans]]):
    * (doc_id, start_tok, len_tok) removal spans for maximal cross-doc
    * verbatim runs >= 8 tokens, keep-first, overlaps merged per doc. The
    * oracle replays the WHOLE pipeline — md5 winnowing candidates at
    * minShared=1, positional gram matches per pair, diagonal runs, the
    * interval-merge sweep — so the span-level output is hash-compared,
    * not just pair membership. */
  private def exactSubstrSpans(s: SparkSession, d: String): DataFrame =
    Dedup.exactSubstrSpans(Tables.documents(s, d), minLen = 8, maxDf = 16,
        shingleHash = c => md5(c.cast("binary")))
      .orderBy("doc_id", "start_tok")

  /** The full ExactSubstr oracle chain through `isl` (merged span islands
    * per doc) — shared by the corpus-wide entry and the incremental screen
    * (whose output is the same pipeline restricted to arrival docs). */
  private val exactSubstrSpansCtes = """t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    h AS (SELECT doc_id,
            [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
             for i in range(1, len(w)-3)] AS hs
          FROM t WHERE len(w) >= 5),
    f AS (SELECT doc_id, CASE WHEN len(hs) >= 4
            THEN list_sort(list_distinct(
                   [list_aggregate(hs[i:i+3], 'min') for i in range(1, len(hs)-2)]))
            ELSE [list_aggregate(hs, 'min')] END AS fp
          FROM h),
    fpx AS (SELECT doc_id, unnest(fp) AS fp_hash FROM f),
    rare AS (SELECT fp_hash FROM fpx GROUP BY fp_hash HAVING COUNT(*) <= 16),
    fpf AS (SELECT doc_id, fp_hash FROM fpx
            WHERE fp_hash IN (SELECT fp_hash FROM rare)),
    sp AS (SELECT a.doc_id AS d1, b.doc_id AS d2
           FROM fpf a JOIN fpf b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
    pg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
           FROM (SELECT doc_id,
                   unnest([{'pos': i, 'gh': hs[i]} for i in range(1, len(hs)+1)]) AS u
                 FROM h)),
    m AS (SELECT sp.d1, sp.d2, a.pos AS p1, b.pos AS p2
          FROM sp JOIN pg a ON a.doc_id = sp.d1
                  JOIN pg b ON b.doc_id = sp.d2 AND b.gh = a.gh),
    r0 AS (SELECT d1, d2, p1 - p2 AS diag, p2,
             p1 - row_number() OVER (PARTITION BY d1, d2, p1 - p2 ORDER BY p1)
               AS island
           FROM m),
    runs AS (SELECT d2, MIN(p2) AS strt, COUNT(*) + 4 AS len
             FROM r0 GROUP BY d1, d2, diag, island
             HAVING COUNT(*) + 4 >= 8),
    b0 AS (SELECT d2 AS doc_id, strt, strt + len AS e FROM runs),
    fl AS (SELECT doc_id, strt, e,
             CASE WHEN strt > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                    ORDER BY strt, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
           FROM b0),
    isl AS (SELECT doc_id, strt, e,
              SUM(ni) OVER (PARTITION BY doc_id ORDER BY strt, e) AS island
            FROM fl)"""

  private val exactSubstrSpansSql = s"""
    WITH $exactSubstrSpansCtes
    SELECT doc_id, CAST(MIN(strt) AS BIGINT) AS start_tok,
           CAST(MAX(e) - MIN(strt) AS BIGINT) AS len_tok
    FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok"""

  /** Incremental exact-substring screen as a registry entry
    * ([[graft.ops.Dedup.incrementalSpanScreen]]): docs < 400 are the
    * standing corpus (fingerprint index persisted to disk), docs >= 400
    * the arrival batch probed against it — the [[incrementalDedup]]
    * convention at span granularity. Arrival ids are all larger than
    * standing ids (monotone ingestion), so keep-standing coincides with
    * keep-first and the oracle is exactly the corpus-wide ExactSubstr
    * pipeline restricted to arrival docs. */
  private def spanScreen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val all = Tables.documents(s, d)
    val dir = graft.sources.Scratch.dir("graft_fp_idx")
    val md5h: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => md5(c.cast("binary"))
    Dedup.appendFingerprintIndex(all.filter($"doc_id" < 400), dir,
      shingleHash = md5h)
    Dedup.incrementalSpanScreen(s, dir,
        all.filter($"doc_id" < 400), all.filter($"doc_id" >= 400),
        minLen = 8, maxDf = 16, shingleHash = md5h)
      .orderBy("doc_id", "start_tok")
  }

  private val spanScreenSql = s"""
    WITH $exactSubstrSpansCtes
    SELECT doc_id, CAST(MIN(strt) AS BIGINT) AS start_tok,
           CAST(MAX(e) - MIN(strt) AS BIGINT) AS len_tok
    FROM isl WHERE doc_id >= 400
    GROUP BY doc_id, island ORDER BY doc_id, start_tok"""

  /** Per-source span-removal accounting
    * ([[graft.ops.Dedup.removalStats]]): tokens the ExactSubstr spans and
    * the boilerplate gate would remove together, per source — union'd
    * and re-merged per doc so overlapping removals count once. Oracle
    * composes the shared ExactSubstr chain (its `h`/`pg` grams feed the
    * boilerplate side too) with a second interval sweep. */
  private def spanRemovalStats(s: SparkSession, d: String): DataFrame =
    Dedup.removalStats(Tables.documents(s, d), minDf = 2,
        shingleHash = c => md5(c.cast("binary")))
      .orderBy("source")

  private lazy val spanRemovalStatsSql: String = s"""
    WITH $exactSubstrSpansCtes,
    s1 AS (SELECT doc_id, CAST(MIN(strt) AS BIGINT) AS strt,
             CAST(MAX(e) AS BIGINT) AS e
           FROM isl GROUP BY doc_id, island),
    bhot AS (SELECT gh FROM (SELECT gh, COUNT(DISTINCT doc_id) AS df
                             FROM pg GROUP BY gh) WHERE df > 2),
    s2 AS (SELECT doc_id, CAST(pos AS BIGINT) AS strt,
             CAST(pos + 5 AS BIGINT) AS e
           FROM pg WHERE gh IN (SELECT gh FROM bhot)),
    u0 AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
    ufl AS (SELECT doc_id, strt, e,
              CASE WHEN strt > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                     ORDER BY strt, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                   THEN 1 ELSE 0 END AS ni
            FROM u0),
    uisl AS (SELECT doc_id, strt, e,
               SUM(ni) OVER (PARTITION BY doc_id ORDER BY strt, e) AS island
             FROM ufl),
    rem AS (SELECT doc_id, SUM(len) AS removed_tok
            FROM (SELECT doc_id, MAX(e) - MIN(strt) AS len
                  FROM uisl GROUP BY doc_id, island)
            GROUP BY doc_id),
    tok AS (SELECT doc_id, source,
              len(string_split(lower(trim(text)), ' ')) AS n_tok
            FROM documents)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(COALESCE(SUM(removed_tok), 0) AS BIGINT) AS removed_tokens,
           CAST(COALESCE(SUM(removed_tok), 0) AS DOUBLE) / SUM(n_tok)
             AS removal_fraction
    FROM tok LEFT JOIN rem USING (doc_id)
    GROUP BY source ORDER BY source"""

  /** Within-doc repeated-run spans ([[graft.ops.Dedup.intraDocRepeats]])
    * over a PLANTED-repeat corpus: the synthetic documents carry no
    * intra-doc token runs >= 5 (measured — a plain registry entry would be
    * vacuous), so every `doc_id % 10 = 0` doc is self-concatenated at a
    * deterministic single-space boundary in BOTH engines before the
    * operator runs. The second copy repeats the first verbatim, so the
    * operator must emit exactly one merged removal span per planted doc
    * covering the LATER occurrence — and the oracle replays the whole
    * positional pipeline (per-doc gram self-join p1 < p2, diagonal runs,
    * keep-first interval merge), not just span counts, so the span
    * geometry is hash-compared. Non-planted docs prove the negative: any
    * incidental intra-doc repeat the operator finds, the oracle must find
    * too. */
  private def intraDocRepeatsQ(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      when(col("doc_id") % 10 === 0, concat_ws(" ", col("text"), col("text")))
        .otherwise(col("text")).as("text"))
    Dedup.intraDocRepeats(planted, minLen = 8, k = 5,
        shingleHash = c => md5(c.cast("binary")))
      .orderBy("doc_id", "start_tok")
  }

  private val intraDocRepeatsSql = """
    WITH t AS (SELECT doc_id,
            string_split(lower(trim(CASE WHEN doc_id % 10 = 0
              THEN text || ' ' || text ELSE text END)), ' ') AS w
          FROM documents),
    h AS (SELECT doc_id,
            [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
             for i in range(1, len(w)-3)] AS hs
          FROM t WHERE len(w) >= 5),
    pg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
           FROM (SELECT doc_id,
                   unnest([{'pos': i, 'gh': hs[i]} for i in range(1, len(hs)+1)]) AS u
                 FROM h)),
    m AS (SELECT a.doc_id AS doc_id, a.pos AS p1, b.pos AS p2
          FROM pg a JOIN pg b ON b.doc_id = a.doc_id AND b.gh = a.gh
                              AND a.pos < b.pos),
    r0 AS (SELECT doc_id, p2 - p1 AS diag, p2,
             p1 - row_number() OVER (PARTITION BY doc_id, p2 - p1 ORDER BY p1)
               AS island
           FROM m),
    runs AS (SELECT doc_id, MIN(p2) AS strt, COUNT(*) + 4 AS len
             FROM r0 GROUP BY doc_id, diag, island
             HAVING COUNT(*) + 4 >= 8),
    b0 AS (SELECT doc_id, strt, strt + len AS e FROM runs),
    fl AS (SELECT doc_id, strt, e,
             CASE WHEN strt > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                    ORDER BY strt, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
           FROM b0),
    isl AS (SELECT doc_id, strt, e,
              SUM(ni) OVER (PARTITION BY doc_id ORDER BY strt, e) AS island
            FROM fl)
    SELECT doc_id, CAST(MIN(strt) AS BIGINT) AS start_tok,
           CAST(MAX(e) - MIN(strt) AS BIGINT) AS len_tok
    FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok"""

  /** Hot-gram boilerplate spans ([[graft.ops.Dedup.boilerplateSpans]]) —
    * merged per-doc spans covered by 5-grams occurring in more than
    * `minDf` distinct docs. minDf = 2 exercises the gate on this corpus
    * (its hottest 5-gram reaches df = 3; production corpora set this to
    * the same order as the pairwise family's maxDf). */
  private def boilerplateSpans(s: SparkSession, d: String): DataFrame =
    Dedup.boilerplateSpans(Tables.documents(s, d), minDf = 2,
        shingleHash = c => md5(c.cast("binary")))
      .orderBy("doc_id", "start_tok")

  private val boilerplateSpansSql = s"""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    h AS (SELECT doc_id,
            [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
             for i in range(1, len(w)-3)] AS hs
          FROM t WHERE len(w) >= 5),
    pg AS (SELECT doc_id, u.pos AS pos, u.gh AS gh
           FROM (SELECT doc_id,
                   unnest([{'pos': i, 'gh': hs[i]} for i in range(1, len(hs)+1)]) AS u
                 FROM h)),
    hot AS (SELECT gh FROM (SELECT gh, COUNT(DISTINCT doc_id) AS df
                            FROM pg GROUP BY gh) WHERE df > 2),
    b0 AS (SELECT doc_id, pos AS strt, pos + 5 AS e FROM pg
           WHERE gh IN (SELECT gh FROM hot)),
    fl AS (SELECT doc_id, strt, e,
             CASE WHEN strt > COALESCE(MAX(e) OVER (PARTITION BY doc_id
                    ORDER BY strt, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS ni
           FROM b0),
    isl AS (SELECT doc_id, strt, e,
              SUM(ni) OVER (PARTITION BY doc_id ORDER BY strt, e) AS island
            FROM fl)
    SELECT doc_id, CAST(MIN(strt) AS BIGINT) AS start_tok,
           CAST(MAX(e) - MIN(strt) AS BIGINT) AS len_tok
    FROM isl GROUP BY doc_id, island ORDER BY doc_id, start_tok"""

  /** Asymmetric containment over the span_dedup pairs (md5 winnowing so
    * the oracle replays every window minimum): cover fractions against
    * the shared rare-fingerprint universe — see
    * [[graft.ops.Dedup.spanContainment]]. */
  private def spanContainment(s: SparkSession, d: String): DataFrame =
    Dedup.spanContainment(Tables.documents(s, d), minShared = 2, maxDf = 16,
        shingleHash = c => md5(c.cast("binary")))
      .orderBy("d1", "d2")

  private val spanContainmentSql = s"""
    WITH $spanPairsCtes,
    cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fp FROM fpf GROUP BY doc_id)
    SELECT d1, d2, n_shared, c1.n_fp AS n_fp1, c2.n_fp AS n_fp2,
           n_shared::DOUBLE / c1.n_fp AS cover_d1,
           n_shared::DOUBLE / c2.n_fp AS cover_d2
    FROM sp JOIN cnt c1 ON sp.d1 = c1.doc_id JOIN cnt c2 ON sp.d2 = c2.doc_id
    ORDER BY d1, d2"""

  /** Connected components over the shared-span pairs — the MOSS-style
    * copy-group view (each cluster = docs transitively linked by shared
    * spans): [[graft.ops.Dedup.clusters]]' pointer-jumping label
    * propagation reused verbatim on a different pair generator, which is
    * the point of keeping pair generation and clustering as separate
    * composable operators. */
  private def spanClusters(s: SparkSession, d: String): DataFrame =
    Dedup.clusters(
        Dedup.spanDedup(Tables.documents(s, d), minShared = 2, maxDf = 16,
            shingleHash = c => md5(c.cast("binary")))
          .select("d1", "d2"))
      .orderBy("doc_id")

  private val spanClustersSql = s"""
    WITH RECURSIVE $spanPairsCtes,
    e AS (SELECT d1 AS src, d2 AS dst FROM sp UNION SELECT d2, d1 FROM sp),
    reach AS (
      SELECT src AS id, dst AS r FROM e
      UNION
      SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
    lab AS (SELECT id, least(id, MIN(r)) AS cluster_id FROM reach GROUP BY id)
    SELECT id AS doc_id, cluster_id, CAST(n AS BIGINT) AS cluster_size
    FROM lab JOIN (SELECT cluster_id, COUNT(*) AS n FROM lab GROUP BY 1) c
      USING (cluster_id)
    ORDER BY doc_id"""

  /** Packing-efficiency rollup ([[TextAnalysis.packingEfficiency]]) at
    * ctxLen=512: sequences filled, tail padding, boundary-straddling
    * docs and fill efficiency per shard — the training-run dashboard row
    * over the seq_packing layout. */
  private def packingEfficiencyQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.packingEfficiency(Tables.documents(s, d), ctxLen = 512)

  private val packingEfficiencySql = raw"""
    WITH t AS (SELECT doc_id, source AS shard,
                 len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
               FROM documents),
    c AS (SELECT *,
            CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS tok_start
          FROM t),
    per AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
              CAST(SUM(CASE WHEN (tok_start + n_tokens - 1) // 512 > tok_start // 512
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
            FROM c GROUP BY shard)
    SELECT shard, n_docs, total_tokens, n_boundary_docs,
           CAST((total_tokens + 511) // 512 AS BIGINT) AS n_sequences,
           CAST((total_tokens + 511) // 512 * 512 - total_tokens AS BIGINT)
             AS padding_tokens,
           CAST(total_tokens AS DOUBLE) / ((total_tokens + 511) // 512 * 512)
             AS efficiency
    FROM per ORDER BY shard"""

  /** Concat-and-chunk sequence packing at ctxLen=512, sharded by source —
    * per-shard token cumsum replayed verbatim by the oracle window. */
  private def seqPacking(s: SparkSession, d: String): DataFrame =
    TextAnalysis.packSequences(Tables.documents(s, d), ctxLen = 512)
      .orderBy("doc_id")

  private val seqPackingSql = raw"""
    WITH t AS (SELECT doc_id, source AS shard,
                 len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
               FROM documents),
    c AS (SELECT *,
            CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
              AS tok_start
          FROM t)
    SELECT doc_id, shard, n_tokens, tok_start,
           CAST(tok_start // 512 AS BIGINT) AS seq_id,
           CAST(tok_start % 512 AS INTEGER) AS seq_offset,
           (tok_start + n_tokens - 1) // 512 > tok_start // 512 AS spans_boundary
    FROM c ORDER BY doc_id"""

  /** TF-IDF top-3 terms per doc; rational rarity weight (see
    * TextAnalysis.tfidfTopTerms scaladoc for why not log). */
  private def tfidfTopTerms(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tfidfTopTerms(Tables.documents(s, d), k = 3)
      .orderBy("doc_id", "rank")

  private val tfidfTopTermsSql = """
    WITH ex AS (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
                FROM documents),
    tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM ex GROUP BY 1, 2),
    df AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM ex GROUP BY 1),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
    s AS (SELECT doc_id, term, tf, df, tf * (n_docs + 1) / (df + 1) AS score
          FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, term) AS rank FROM s)
    SELECT doc_id, rank, term, tf, df, score FROM r WHERE rank <= 3
    ORDER BY doc_id, rank"""

  /** Language-mix rebalancing: the corpus is ~3.5× English-heavy, so every
    * language downsamples toward the smallest one (data-derived integer
    * rates) via the portable md5 bucket — the oracle reproduces exact
    * sample membership. */
  /** Temperature-flattened (τ=0.5) training-mixture schedule per source
    * ([[graft.ops.Sampling.temperatureMixture]]): √n-proportional sampling
    * weights between proportional and uniform, plus the loader-facing
    * epoch math (expected tokens under a 1M budget, passes over the
    * source, upsampled flag). The one order-sensitive reduction (Σ√n)
    * runs in exact decimal; all other doubles are fixed-order scalar IEEE
    * chains — the oracle hash-checks the schedule bit-for-bit. Corpus
    * work is one tokenize-count scan; the schedule itself is
    * |sources|-sized with a broadcast 1-row totals join. */
  private def mixtureSchedule(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sourceTokens = Tables.documents(s, d)
      .select($"source", size(TextAnalysis.tokens($"text")).cast("long").as("n"))
      .groupBy($"source").agg(sum($"n").as("n_tokens"))
    graft.ops.Sampling.temperatureMixture(sourceTokens, budgetTokens = 1e6)
      .orderBy("source")
  }

  private val mixtureScheduleSql = s"""
    WITH t AS (SELECT source,
                 CAST(SUM(len(string_split(lower(trim(text)), ' ')))
                   AS BIGINT) AS n_tokens
               FROM documents GROUP BY source),
    g AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                 ${Exact.sqlSum("sqrt(CAST(n_tokens AS DOUBLE))")} AS sqrt_sum
          FROM t),
    w AS (SELECT source, n_tokens,
            CAST(n_tokens AS DOUBLE) / CAST(total_tokens AS DOUBLE)
              AS raw_share,
            sqrt(CAST(n_tokens AS DOUBLE)) / sqrt_sum AS weight
          FROM t CROSS JOIN g),
    e AS (SELECT *, weight * CAST(1000000 AS DOUBLE) AS expected_tokens
          FROM w),
    f AS (SELECT *, expected_tokens / n_tokens AS epochs FROM e)
    SELECT source, n_tokens, raw_share, weight, expected_tokens, epochs,
           epochs > CAST(1 AS DOUBLE) AS upsampled
    FROM f ORDER BY source"""

  private def domainBalance(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Sampling.balanceDomains(
        Tables.documents(s, d).select($"doc_id", $"lang"),
        $"lang", $"doc_id")
      .select($"doc_id", $"lang", $"sample_bucket", $"keep_rate")
      .orderBy("doc_id")
  }

  private val domainBalanceSql = """
    WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
    r AS (SELECT lang,
            CAST(FLOOR(100.0 * (SELECT MIN(cnt) FROM c) / cnt) AS INTEGER) AS keep_rate
          FROM c),
    b AS (SELECT doc_id, lang,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                 AS INTEGER) AS sample_bucket
          FROM documents)
    SELECT doc_id, lang, sample_bucket, keep_rate
    FROM b JOIN r USING (lang)
    WHERE sample_bucket < keep_rate ORDER BY doc_id"""

  /** Token-budget mixture sampling (see [[graft.ops.Sampling.tokenBudget]]):
    * every language downsamples toward a 5000-token budget; exact
    * integer rate arithmetic, portable md5 membership. */
  private def tokenBudgetSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"lang",
      size(TextAnalysis.tokens($"text")).cast("long").as("n_tokens"))
    graft.ops.Sampling.tokenBudget(docs, $"lang", $"doc_id", $"n_tokens",
        budgetTokens = 5000L)
      .orderBy("doc_id")
  }

  private val tokenBudgetSampleSql = """
    WITH t AS (SELECT doc_id, lang,
                 len(string_split(lower(trim(text)), ' ')) AS n_tokens
               FROM documents),
    c AS (SELECT lang, SUM(n_tokens) AS toks FROM t GROUP BY lang),
    r AS (SELECT lang,
            CAST(least(100, 500000 // toks) AS INTEGER) AS keep_rate
          FROM c),
    b AS (SELECT doc_id, lang, n_tokens,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                 AS INTEGER) AS sample_bucket
          FROM t)
    SELECT doc_id, lang, n_tokens, sample_bucket, keep_rate
    FROM b JOIN r USING (lang)
    WHERE sample_bucket < keep_rate ORDER BY doc_id"""

  /** Deterministic train/val/test assignment — contiguous ranges of the
    * same portable md5 bucket the sampling operators use, so split
    * membership is stable across runs/engines and consistent with every
    * bucket-based sampling decision. */
  private def datasetSplit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Sampling.split(Tables.documents(s, d).select($"doc_id"), $"doc_id",
        Seq("train" -> 90, "val" -> 5, "test" -> 5))
      .orderBy("doc_id")
  }

  private val datasetSplitSql = """
    WITH b AS (SELECT doc_id,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                 AS INTEGER) AS sample_bucket
          FROM documents)
    SELECT doc_id, sample_bucket,
           CASE WHEN sample_bucket < 90 THEN 'train'
                WHEN sample_bucket < 95 THEN 'val' ELSE 'test' END AS split
    FROM b ORDER BY doc_id"""

  /** Docs↔embeddings reconciliation: every doc must carry its embedding
    * before ANN jobs run; orphan embeddings mean an upstream delete never
    * propagated. One id-only full outer join → one summary row. */
  private def auditCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Audit.coverage(
      Tables.documents(s, d), $"doc_id",
      Tables.embeddings(s, d), $"vec_id")
  }

  private val auditCoverageSql = """
    WITH l AS (SELECT DISTINCT doc_id FROM documents),
    r AS (SELECT DISTINCT vec_id FROM embeddings),
    j AS (SELECT doc_id, vec_id FROM l FULL OUTER JOIN r ON doc_id = vec_id)
    SELECT CAST(COUNT(doc_id) AS BIGINT) AS n_left,
           CAST(COUNT(vec_id) AS BIGINT) AS n_right,
           CAST(COUNT(CASE WHEN doc_id IS NOT NULL AND vec_id IS NOT NULL THEN 1 END) AS BIGINT) AS n_matched,
           CAST(COUNT(CASE WHEN vec_id IS NULL THEN 1 END) AS BIGINT) AS n_left_only,
           CAST(COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS BIGINT) AS n_right_only
    FROM j"""

  /** Symmetric int8 quantization of every embedding (exploded rows); both
    * engines replay the identical double math incl. HALF_UP rounding. */
  private def embeddingQuantize(s: SparkSession, d: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(s, d)).orderBy("vec_id", "dim")

  private val embeddingQuantizeSql = """
    WITH e AS (SELECT vec_id,
                 unnest([{'dim': i-1, 'x': CAST(embedding[i] AS DOUBLE)}
                         for i in range(1, len(embedding)+1)]) AS u
               FROM embeddings),
    w AS (SELECT vec_id, u.dim AS dim, u.x AS x,
                 MAX(ABS(u.x)) OVER (PARTITION BY vec_id) AS m
          FROM e)
    SELECT vec_id, dim,
           CASE WHEN m = 0 THEN 0 ELSE CAST(ROUND(x * 127 / m) AS INTEGER) END AS q,
           m / 127 AS scale
    FROM w ORDER BY vec_id, dim"""

  /** IVF ANN through the ON-DISK index layout (ops/Ivf.writeIndex +
    * searchIndex): lists persisted partitioned by centroid_id, probe
    * executed as a broadcast join against the partition column so dynamic
    * partition pruning restricts the scan to the probed lists' directories
    * (SimilaritySpec asserts the dynamicpruning filter in this plan). At
    * full probe every list is read, so the same exact brute-force oracle
    * applies bit-for-bit — correctness of the DPP path itself, not just the
    * in-memory search. */
  private def knnIvfDisk(s: SparkSession, d: String): DataFrame = {
    val data = Tables.embeddings(s, d)
    val model = Ivf.fit(data, nLists = 8, iters = 2)
    val dir = graft.sources.Scratch.dir("graft_ivf_idx")
    Ivf.writeIndex(model, data, dir)
    Ivf.searchIndex(s, dir, queries(s, d), k = 5, nprobe = 8)
      .orderBy("query_id", "rank")
  }

  /** Metadata half of the multimodal pipeline — every column recomputable by
    * the oracle from the same bytes (payload = 4-byte 'GRFT' magic + UTF-8
    * text; DuckDB strlen counts UTF-8 bytes, md5 hashes them). */
  private def multimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.metadata(Multimodal.withPayload(Tables.documents(s, d)))
      .orderBy("doc_id")

  private val multimodalMetaSql = """
    SELECT doc_id, 4 + strlen(text) AS byte_len, '47524654' AS magic_hex,
           md5('GRFT' || text) AS checksum_md5
    FROM documents ORDER BY doc_id"""

  /** Full pipeline incl. the stubbed batched decoder. The stub accumulates
    * exact integer byte sums per dim and rounds to float32 once, so the
    * oracle replays it byte-for-byte: payload hex = 'GRFT' magic + UTF-8
    * text, byte i from the hex pairs, grouped by i mod 8. The final
    * `feature_sum` adds 8 float32-valued doubles — exact in a 53-bit
    * significand, hence aggregation-order-independent across engines. */
  private def multimodalFeatures(s: SparkSession, d: String): DataFrame =
    Multimodal.pipeline(s, Tables.documents(s, d)).orderBy("doc_id")

  private val multimodalFeaturesSql = """
    WITH h AS (SELECT doc_id, '47524654' || upper(hex(encode(text))) AS hx
               FROM documents),
    e AS (SELECT doc_id,
            unnest([{'d': (i-1)%8, 'v': ('0x' || substr(hx, 2*i-1, 2))::BIGINT}
                    for i in range(1, length(hx)//2 + 1)]) AS u
          FROM h),
    pd AS (SELECT doc_id, u.d AS d, SUM(u.v) AS s FROM e GROUP BY doc_id, u.d),
    fs AS (SELECT doc_id,
             SUM(CAST(CAST(CAST(s AS DOUBLE)/255.0 AS REAL) AS DOUBLE)) AS feature_sum
           FROM pd GROUP BY doc_id)
    SELECT d.doc_id, 4 + strlen(d.text) AS byte_len, '47524654' AS magic_hex,
           md5('GRFT' || d.text) AS checksum_md5, fs.feature_sum
    FROM documents d JOIN fs USING (doc_id) ORDER BY doc_id"""

  /** Frame sampling over the synthesized payloads; oracle recomputes the
    * byte windows from the same bytes (corpus is ASCII, so DuckDB's
    * char-based substr equals byte slicing — asserted by frame_md5). */
  private def multimodalFrames(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.withPayload(Tables.documents(s, d)))
      .orderBy("doc_id", "frame_idx")

  private val multimodalFramesSql = """
    WITH t AS (SELECT doc_id, 'GRFT' || text AS payload,
                      greatest(strlen(text) + 4 - 32, 0) AS g
               FROM documents),
    f AS (SELECT doc_id, i AS frame_idx,
                 substr(payload, CAST(floor(i * g / 3.0) AS INTEGER) + 1, 32) AS frame
          FROM (SELECT doc_id, payload, g, unnest([0,1,2,3]) AS i FROM t))
    SELECT doc_id, frame_idx, strlen(frame) AS frame_len, md5(frame) AS frame_md5
    FROM f ORDER BY doc_id, frame_idx"""

  /** REAL decoder over the multimodal column: synthesize a valid PNG
    * (signature + IHDR with text-derived dimensions + real CRC-32), then
    * decode width/height/depth/color back out of the raw bytes per the
    * public PNG spec. The oracle derives the EXPECTED decode output
    * independently from the text columns — if the byte-offset parse were
    * wrong in any way (endianness, off-by-one, signature slip) the hashes
    * diverge, so this checks the decoder, not just the roundtrip. */
  private def multimodalPng(s: SparkSession, d: String): DataFrame =
    Multimodal.decodePngMeta(Multimodal.withPngPayload(
        Tables.documents(s, d).select(col("doc_id"), col("text"))))
      .orderBy("doc_id")

  private val multimodalPngSql = """
    SELECT doc_id,
           TRUE AS is_png,
           TRUE AS has_ihdr,
           CAST(1 + length(text) % 512 AS INTEGER) AS width,
           CAST(1 + length(text) % 256 AS INTEGER) AS height,
           CAST(8 AS INTEGER) AS bit_depth,
           CAST(6 AS INTEGER) AS color_type,
           CAST(33 + strlen(text) AS INTEGER) AS byte_len
    FROM documents ORDER BY doc_id"""

  /** WAV/RIFF twin of the PNG decode: header synthesized from the text
    * (channels/rate derive from the CHARACTER length; the byte stream is
    * the UTF-8 text, so data_size and byte_len legitimately differ on
    * multibyte docs) and parsed back per the public RIFF layout. DuckDB
    * length() counts chars and strlen() counts bytes — mirroring Spark's
    * length(string) vs length(binary). */
  private def multimodalWav(s: SparkSession, d: String): DataFrame =
    Multimodal.decodeWavMeta(Multimodal.withWavPayload(
        Tables.documents(s, d).select(col("doc_id"), col("text"))))
      .orderBy("doc_id")

  private val multimodalWavSql = """
    SELECT doc_id,
           TRUE AS is_wav,
           CAST(1 + length(text) % 2 AS INTEGER) AS n_channels,
           CAST(8000 + (length(text) % 100) * 100 AS INTEGER) AS sample_rate,
           CAST(16 AS INTEGER) AS bits_per_sample,
           TRUE AS byte_rate_ok,
           CAST(length(text) AS INTEGER) AS data_size,
           CAST(44 + strlen(text) AS INTEGER) AS byte_len
    FROM documents ORDER BY doc_id"""

  /** CCNet-style per-language length terciles (see TextAnalysis
    * .lengthBuckets): thresholds are exact interpolated percentiles —
    * `percentile` vs `quantile_cont` already hash-match in
    * approx_quantiles; the probability args are single IEEE divisions so
    * both engines see identical thresholds, hence identical buckets. */
  private def ccnetLengthBuckets(s: SparkSession, d: String): DataFrame =
    TextAnalysis.lengthBuckets(Tables.documents(s, d)).orderBy("doc_id")

  private val ccnetLengthBucketsSql = """
    WITH t AS (SELECT lang,
                 quantile_cont(n_chars::DOUBLE, 1.0::DOUBLE/3) AS t1,
                 quantile_cont(n_chars::DOUBLE, 2.0::DOUBLE/3) AS t2
               FROM documents GROUP BY lang)
    SELECT doc_id, lang, n_chars, t1, t2,
           CASE WHEN n_chars <= t1 THEN 'tail'
                WHEN n_chars <= t2 THEN 'middle'
                ELSE 'head' END AS bucket
    FROM documents JOIN t USING (lang) ORDER BY doc_id"""

  /** Quality-weighted sampling: keep probability = round(100·stopword
    * ratio) vs the portable md5 bucket — natural-language-rich docs
    * survive at higher rates. The oracle recomputes the ratio with the
    * same stopword list and replays the exact membership. */
  private def qualityWeightedSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Sampling.qualityWeighted(
        TextAnalysis.quality(Tables.documents(s, d)),
        $"stopword_ratio", $"doc_id")
      .select($"doc_id", $"stopword_ratio", $"keep_rate", $"sample_bucket")
      .orderBy("doc_id")
  }

  private lazy val qualityWeightedSampleSql = s"""
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    q AS (SELECT doc_id,
            len(list_filter(w, x -> list_contains(${sqlList(TextAnalysis.stopwords.values.flatten.toSeq.distinct)}, x)))::DOUBLE
              / len(w) AS stopword_ratio
          FROM t),
    b AS (SELECT doc_id, stopword_ratio,
            CAST(round(stopword_ratio * 100) AS INTEGER) AS keep_rate,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                 AS INTEGER) AS sample_bucket
          FROM q)
    SELECT doc_id, stopword_ratio, keep_rate, sample_bucket
    FROM b WHERE sample_bucket < keep_rate ORDER BY doc_id"""

  /** DSIR importance weights (see [[graft.ops.Dsir.weights]]): every doc
    * scored by hashed-bigram probability ratio against the `src0` target
    * domain. The oracle retrains both add-one hashed-feature models in SQL
    * (the portable md5-prefix bucket) and replays the three-division ratio
    * expression tree plus the decimal mean bit-for-bit. */
  private def dsirWeights(s: SparkSession, d: String): DataFrame =
    graft.ops.Dsir.weights(Tables.documents(s, d), col("source") === "src0")
      .orderBy("doc_id")

  private val dsirFeatureSql = """
    WITH t AS (SELECT doc_id, source, string_split(lower(trim(text)), ' ') AS w
               FROM documents),
    f AS (SELECT doc_id, source,
            CAST(('0x' || substr(md5(pr), 1, 15))::BIGINT % 4096 AS BIGINT) AS fh
          FROM (SELECT doc_id, source,
                  unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS pr
                FROM t)),
    tc AS (SELECT fh, CAST(COUNT(*) AS BIGINT) AS n_t FROM f
           WHERE source = 'src0' GROUP BY 1),
    rc AS (SELECT fh, CAST(COUNT(*) AS BIGINT) AS n_r FROM f GROUP BY 1),
    tt AS (SELECT COALESCE(CAST(SUM(n_t) AS BIGINT), 0) AS nt_total FROM tc),
    rt AS (SELECT COALESCE(CAST(SUM(n_r) AS BIGINT), 0) AS nr_total FROM rc),
    sc AS (SELECT doc_id, source,
             ((COALESCE(n_t, 0) + 1)::DOUBLE / (nt_total + 4096)::DOUBLE)
               / ((n_r + 1)::DOUBLE / (nr_total + 4096)::DOUBLE) AS r
           FROM f JOIN rc USING (fh) LEFT JOIN tc USING (fh)
                  CROSS JOIN tt CROSS JOIN rt),
    dw AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_feats,
             CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(r)
               AS dsir_weight
           FROM sc GROUP BY doc_id)"""

  private lazy val dsirWeightsSql = s"""$dsirFeatureSql
    SELECT doc_id, n_feats, dsir_weight FROM dw ORDER BY doc_id"""

  /** DSIR deterministic importance resample (see [[graft.ops.Dsir
    * .resample]]): thin the corpus proportionally to the weight via the
    * portable bucket; the oracle replays the exact membership. */
  private def dsirSample(s: SparkSession, d: String): DataFrame =
    graft.ops.Dsir.resample(Tables.documents(s, d), col("source") === "src0")
      .orderBy("doc_id")

  private lazy val dsirSampleSql = s"""$dsirFeatureSql,
    mx AS (SELECT MAX(dsir_weight) AS w_max FROM dw),
    acc AS (SELECT doc_id, n_feats, dsir_weight,
              CAST(floor(100.0 * dsir_weight / w_max) AS INTEGER) AS accept_rate,
              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                   AS INTEGER) AS sample_bucket
            FROM dw CROSS JOIN mx)
    SELECT doc_id, source, n_feats, dsir_weight, accept_rate, sample_bucket
    FROM acc JOIN documents USING (doc_id)
    WHERE sample_bucket < accept_rate ORDER BY doc_id"""

  /** Bigram PMI-ratio head (see TextAnalysis.bigramPmi). */
  private def bigramPmiQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bigramPmi(Tables.documents(s, d))

  private val bigramPmiSql = """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    uni AS (SELECT tkn AS w, CAST(COUNT(*) AS BIGINT) AS n_w
            FROM (SELECT unnest(w) AS tkn FROM t) GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_w) AS BIGINT) AS n_total FROM uni),
    pr AS (SELECT pr, CAST(COUNT(*) AS BIGINT) AS n_xy
           FROM (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS pr
                 FROM t)
           GROUP BY pr HAVING COUNT(*) >= 5),
    sp2 AS (SELECT string_split(pr, ' ')[1] AS w1, string_split(pr, ' ')[2] AS w2, n_xy
            FROM pr),
    sc2 AS (SELECT w1, w2, n_xy, ux.n_w AS n_x, uy.n_w AS n_y,
              (n_xy::DOUBLE * n_total) / (ux.n_w::DOUBLE * uy.n_w) AS pmi_ratio
            FROM sp2 JOIN uni ux ON sp2.w1 = ux.w
                     JOIN uni uy ON sp2.w2 = uy.w
                     CROSS JOIN tot)
    SELECT w1, w2, n_xy, n_x, n_y, pmi_ratio FROM sc2
    ORDER BY pmi_ratio DESC, w1, w2 LIMIT 50"""

  /** Per-vector QA stats (see Similarity.normStats). */
  private def embeddingNormStats(s: SparkSession, d: String): DataFrame =
    Similarity.normStats(Tables.embeddings(s, d)).orderBy("vec_id")

  private val embeddingNormStatsSql = """
    WITH x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v FROM embeddings),
    a AS (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_dims,
            CAST(SUM(CAST(v*v AS DECIMAL(38,6))) AS DOUBLE) AS norm_sq
          FROM x GROUP BY vec_id)
    SELECT vec_id, n_dims, norm_sq,
           norm_sq = 0 AS is_zero,
           abs(norm_sq - 1.0) <= 0.02 AS near_unit
    FROM a ORDER BY vec_id"""

  /** Full BPE tokenizer-training loop (see [[TextAnalysis.bpeTrain]]): 8
    * deterministic merge rounds over the ASCII word histogram; the learned
    * merge table is the checked result. */
  private def bpeTrainQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeTrain(Tables.documents(s, d), nMerges = 8)

  /** Unrolled-CTE oracle for [[bpeTrainQ]] — one CTE block per merge round
    * (the [[Analytics]] PageRank oracle posture). Each round recomputes
    * exactly what the Spark loop does: pair counts weighted by word
    * frequency, argmax with (count DESC, left, right) tie-break, then the
    * greedy left-to-right non-overlapping merge pass expressed relationally
    * over (word, pos, symbol) rows: mark every position starting the best
    * pair, group consecutive marks into runs (gaps-and-islands), keep the
    * even-offset positions of each run as merge starts (greedy
    * non-overlap), fuse each start with its right neighbor and drop the
    * consumed position.
    *
    * The per-round state CTEs are declared MATERIALIZED: each round
    * references the previous round's symbols three times (pair counts,
    * best-pair scalar twice), so with DuckDB's default CTE inlining the
    * query tree grows ~3^rounds copies of the base — materializing keeps
    * the oracle linear in rounds. */
  private lazy val bpeTrainSql: String = {
    val n = 8
    val base = """
    WITH w0 AS (
      SELECT w AS word, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(lower(trim(text)), ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z0-9]+$')
      GROUP BY w),
    s0 AS MATERIALIZED (
      SELECT word, freq, u.pos AS pos, u.s AS s
      FROM (SELECT word, freq,
                   unnest([{'pos': i, 's': syms[i]} for i in range(1, len(syms)+1)]) AS u
            FROM (SELECT word, freq,
                         list_append(string_split(word, ''), '</w>') AS syms
                  FROM w0)))"""
    val rounds = (1 to n).map { r =>
      val prev = s"s${r - 1}"
      s"""
    p$r AS MATERIALIZED (
      SELECT l, r, SUM(freq) AS n
      FROM (SELECT s AS l, lead(s) OVER (PARTITION BY word ORDER BY pos) AS r,
                   freq
            FROM $prev)
      WHERE r IS NOT NULL GROUP BY l, r),
    b$r AS MATERIALIZED (SELECT l, r, n FROM p$r ORDER BY n DESC, l, r LIMIT 1),
    m$r AS (
      SELECT word, freq, pos, s,
             COALESCE(s = (SELECT l FROM b$r) AND
                      lead(s) OVER (PARTITION BY word ORDER BY pos) = (SELECT r FROM b$r),
                      FALSE) AS mk
      FROM $prev),
    g$r AS (
      SELECT *, CASE WHEN mk THEN pos - ROW_NUMBER() OVER (PARTITION BY word, mk ORDER BY pos) END AS grp
      FROM m$r),
    t$r AS (
      SELECT *, mk AND ((pos - MIN(pos) OVER (PARTITION BY word, grp)) % 2 = 0) AS is_start
      FROM g$r),
    s$r AS MATERIALIZED (
      SELECT word, freq, ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
             CASE WHEN is_start THEN s || nxt ELSE s END AS s
      FROM (SELECT *, lead(s) OVER (PARTITION BY word ORDER BY pos) AS nxt,
                   COALESCE(lag(is_start) OVER (PARTITION BY word ORDER BY pos), FALSE) AS prev_start
            FROM t$r)
      WHERE NOT prev_start)"""
    }.mkString(",")
    val union = (1 to n).map(r =>
      s"SELECT $r AS merge_rank, l AS left_sym, r AS right_sym, CAST(n AS BIGINT) AS pair_count FROM b$r")
      .mkString("\n    UNION ALL ")
    s"$base,$rounds\n    SELECT * FROM (\n    $union) ORDER BY merge_rank"
  }

  /** Mergeable heavy-hitters sketch table + merged audit (see
    * [[graft.ops.Sketches.heavyHitterSketch]]): per-(bucket, shard)
    * Misra-Gries summaries are built (the persisted KB-sized rows), merged
    * per bucket, and every item whose EXACT frequency clears the n/(k+1)
    * guarantee threshold is checked against the merged sketch: it must be
    * present (`in_sketch`) with its counter inside the Misra-Gries bound
    * f − n/(k+1) ≤ ĉ ≤ f (`bound_ok`). Raw counter values are
    * order-dependent (any MG/SpaceSaving's are) so the oracle checks the
    * EXACT columns plus the acceptance flags, which theory makes
    * deterministically true — the incremental_distinct posture. The exact
    * side exists for this audit; the production read path is the sketch
    * merge alone (cost ∝ sketch rows). All bound comparisons are exact
    * integer arithmetic ((k+1)·ĉ ≥ (k+1)·f − n), no fp. */
  private def heavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 64
    // shard must be independent of bucket (doc_id%8 determines doc_id%4, so
    // that pairing would leave exactly one shard per bucket and the merge
    // would never combine sketches) — derive it from the quotient instead
    val toks = Tables.documents(s, d)
      .select(pmod($"doc_id", lit(8)).as("bucket"),
              pmod(shiftright($"doc_id", 3), lit(4)).as("shard"),
              explode(TextAnalysis.tokens($"text")).as("item"))
    val merged = Sketches.heavyHittersMerged(
      Sketches.heavyHitterSketch(toks, $"bucket", $"shard", $"item", k), k)
    val exact = toks.groupBy($"bucket", $"item").agg(count(lit(1)).as("exact_count"))
    val nb = exact.groupBy($"bucket").agg(sum($"exact_count").as("n_bucket"))
    exact.join(nb, "bucket")
      .filter($"exact_count" * (k + 1) > $"n_bucket")
      .join(merged.select($"bucket", $"item", $"count_est"),
            Seq("bucket", "item"), "left")
      .select($"bucket", $"item", $"exact_count", $"n_bucket",
        $"count_est".isNotNull.as("in_sketch"),
        ($"count_est".isNotNull && $"count_est" <= $"exact_count" &&
         $"count_est" * (k + 1) >= $"exact_count" * (k + 1) - $"n_bucket")
          .as("bound_ok"))
      .orderBy("bucket", "item")
  }

  private val heavyHittersSql = """
    WITH t AS (SELECT doc_id % 8 AS bucket,
                      unnest(string_split(lower(trim(text)), ' ')) AS item
               FROM documents),
    e AS (SELECT bucket, item, COUNT(*) AS exact_count FROM t GROUP BY 1, 2),
    nb AS (SELECT bucket, SUM(exact_count) AS n_bucket FROM e GROUP BY 1)
    SELECT bucket, item, exact_count, CAST(n_bucket AS BIGINT) AS n_bucket,
           TRUE AS in_sketch, TRUE AS bound_ok
    FROM e JOIN nb USING (bucket)
    WHERE exact_count * 65 > n_bucket
    ORDER BY bucket, item"""

  /** The corpus vocabulary encoded with the learned BPE merges (see
    * [[TextAnalysis.bpeEncode]]): one row per word with post-merge token
    * count and the encoded symbol string — the final training state the
    * train oracle's round CTEs already compute, read out per word. */
  private def bpeEncodeQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeEncode(Tables.documents(s, d), nMerges = 8)

  private lazy val bpeEncodeSql: String = {
    val prefix = bpeTrainSql.substring(0, bpeTrainSql.lastIndexOf("\n    SELECT * FROM ("))
    s"""$prefix
    SELECT word, MAX(freq) AS freq, CAST(COUNT(*) AS INTEGER) AS n_tokens,
           string_agg(s, ' ' ORDER BY pos) AS encoded
    FROM s8 GROUP BY word ORDER BY word"""
  }

  /** Per-source tokenizer fertility ([[TextAnalysis.bpeFertility]]):
    * BPE tokens per word and chars per token over the trained vocabulary
    * — the slice-level tokenizer-health dashboard row. Oracle reuses the
    * train chain's final symbol state (`s8`) for per-word token counts. */
  private def bpeFertilityQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeFertility(Tables.documents(s, d), nMerges = 8)

  private lazy val bpeFertilitySql: String = {
    val prefix = bpeTrainSql.substring(0, bpeTrainSql.lastIndexOf("\n    SELECT * FROM ("))
    s"""$prefix,
    enc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM s8 GROUP BY word),
    sw AS (SELECT source, w, COUNT(*) AS cnt
           FROM (SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS w
                 FROM documents)
           WHERE regexp_matches(w, '^[a-z0-9]+$$')
           GROUP BY 1, 2),
    j AS (SELECT source, cnt, n_tokens, length(w) AS wlen
          FROM sw JOIN enc ON sw.w = enc.word)
    SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(cnt * n_tokens) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(cnt * wlen) AS BIGINT) AS n_chars,
           SUM(cnt * n_tokens)::DOUBLE / SUM(cnt) AS fertility,
           SUM(cnt * wlen)::DOUBLE / SUM(cnt * n_tokens) AS chars_per_token
    FROM j GROUP BY source ORDER BY source"""
  }

  /** Merge-budget tuning curve ([[TextAnalysis.bpeBudgetCurve]]): corpus
    * fertility and vocabulary size at merge budgets {0, 2, 4, 8} from ONE
    * training run (merge tables are prefix-closed, so every point shares
    * the same rounds; the oracle reads the train chain's intermediate
    * symbol states s0/s2/s4/s8 — the single-source-of-truth CTEs the
    * bpe_train oracle already verifies merge by merge). */
  private def bpeBudgetCurveQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.bpeBudgetCurve(Tables.documents(s, d))

  private lazy val bpeBudgetCurveSql: String = {
    val prefix = bpeTrainSql.substring(0, bpeTrainSql.lastIndexOf("\n    SELECT * FROM ("))
    val rows = Seq(0, 2, 4, 8).map { r =>
      s"""SELECT $r AS n_merges,
           (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) FROM s$r) AS vocab_words,
           (SELECT CAST(SUM(freq) AS BIGINT) FROM w0) AS n_words,
           (SELECT CAST(SUM(freq) AS BIGINT) FROM s$r) AS n_bpe_tokens,
           (SELECT CAST(COUNT(DISTINCT s) AS BIGINT) FROM s$r) AS n_symbol_types"""
    }.mkString("\n    UNION ALL ")
    s"""$prefix
    SELECT n_merges, vocab_words, n_words, n_bpe_tokens, n_symbol_types,
           n_bpe_tokens::DOUBLE / n_words AS fertility
    FROM ($rows) ORDER BY n_merges"""
  }

  /** Per-source character-class composition — the multilingual-corpus audit
    * that catches mojibake, markup floods, and numeric-table scrapes before
    * they reach training: what fraction of each source's characters are
    * letters, digits, whitespace, anything else. Counting is
    * `length(text) - length(regexp_replace(text, class, ''))` per class —
    * pure codegen'd string ops, no explode, no UDF — then one integer
    * aggregate per source; ratios are a single IEEE division at the end.
    * At 100 TB this is a scan-bound single-shuffle profile over however
    * many sources exist. */
  private def unicodeScriptProfile(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def classCount(pat: String) =
      length($"text") - length(regexp_replace($"text", pat, ""))
    val perDoc = Tables.documents(s, d).select(
      $"source", length($"text").as("n"),
      classCount("[A-Za-z]").as("alpha"),
      classCount("[0-9]").as("digit"),
      classCount("[ \\t\\n\\r]").as("space"))
    perDoc.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n").as("total_chars"),
        sum($"alpha").as("a"), sum($"digit").as("g"), sum($"space").as("w"))
      .select($"source", $"n_docs", $"total_chars",
        ($"a".cast("double") / $"total_chars").as("alpha_ratio"),
        ($"g".cast("double") / $"total_chars").as("digit_ratio"),
        ($"w".cast("double") / $"total_chars").as("space_ratio"),
        (($"total_chars" - $"a" - $"g" - $"w").cast("double") / $"total_chars")
          .as("other_ratio"))
      .orderBy($"source")
  }

  private val unicodeScriptProfileSql: String = """
    WITH p AS (
      SELECT source, length(text) AS n,
             length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS alpha,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digit,
             length(text) - length(regexp_replace(text, '[ \t\n\r]', '', 'g')) AS space
      FROM documents),
    a AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n) AS total_chars,
             SUM(alpha) AS a, SUM(digit) AS g, SUM(space) AS w
      FROM p GROUP BY source)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(a AS DOUBLE) / total_chars AS alpha_ratio,
           CAST(g AS DOUBLE) / total_chars AS digit_ratio,
           CAST(w AS DOUBLE) / total_chars AS space_ratio,
           CAST(total_chars - a - g - w AS DOUBLE) / total_chars AS other_ratio
    FROM a ORDER BY source"""

  /** Embedding-quality eval via a leave-one-out kNN classifier — the
    * standard "are these vectors any good?" probe before an embedding
    * column is trusted for semantic dedup or retrieval: predict each probe
    * vector's label by majority vote of its exact top-5 cosine neighbors
    * (tie → smallest label, so the verdict is deterministic), emit the
    * per-probe prediction with its vote count and correctness bit. Reuses
    * the registry's own brute-force search (bounded TopKAggregate state,
    * broadcast probes); the vote is a candidate-sized aggregate. The
    * accuracy this reports on the synthetic near-orthogonal corpus is
    * honestly near-chance — the operator's job is to MEASURE that, the
    * same honest-number discipline as ann_recall. */
  private def knnClassifyEval(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val labels = Tables.embeddings(s, d).select($"vec_id", $"label")
    val votes = Similarity.knnBruteForce(Tables.embeddings(s, d), queries(s, d))
      .join(labels.select($"vec_id".as("neighbor_id"), $"label"), "neighbor_id")
      .groupBy($"query_id", $"label")
      .agg(count(lit(1)).as("n_votes"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"n_votes".desc, $"label".asc)
    votes.select($"query_id", $"label", $"n_votes",
        row_number().over(w).as("rk"))
      .filter($"rk" === 1)
      .join(labels.select($"vec_id".as("query_id"), $"label".as("true_label")),
        "query_id")
      .select($"query_id", $"true_label", $"label".as("pred_label"), $"n_votes",
        when($"label" === $"true_label", 1).otherwise(0).as("correct"))
      .orderBy($"query_id")
  }

  private lazy val knnClassifyEvalSql: String = s"""
    WITH nn AS ($knnBruteForceSql),
    v AS (
      SELECT query_id, e.label, COUNT(*) AS n_votes
      FROM nn JOIN embeddings e ON nn.neighbor_id = e.vec_id
      GROUP BY query_id, e.label),
    p AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY n_votes DESC, label ASC) AS rk
      FROM v)
    SELECT p.query_id, e.label AS true_label, p.label AS pred_label,
           CAST(p.n_votes AS BIGINT) AS n_votes,
           CASE WHEN p.label = e.label THEN 1 ELSE 0 END AS correct
    FROM p JOIN embeddings e ON p.query_id = e.vec_id
    WHERE p.rk = 1 ORDER BY p.query_id"""

  /** The probe set's top-5 candidates relevance-labeled by label match —
    * the shared input of the two retrieval-eval entries below. */
  private def retrievalRel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val labels = Tables.embeddings(s, d).select($"vec_id", $"label")
    Similarity.knnBruteForce(Tables.embeddings(s, d), queries(s, d))
      .join(labels.select($"vec_id".as("neighbor_id"), $"label".as("n_label")),
        "neighbor_id")
      .join(labels.select($"vec_id".as("query_id"), $"label".as("true_label")),
        "query_id")
      .select($"query_id", $"true_label", $"rank",
        when($"n_label" === $"true_label", 1L).otherwise(0L).as("rel"))
  }

  /** Shared oracle prefix: candidates → relevance bits → per-query exact
    * rational rank aggregates (mirrors [[graft.ops.Retrieval.rankEval]]). */
  private lazy val retrievalRelSql = s"""
    WITH nn AS ($knnBruteForceSql),
    j AS (SELECT nn.query_id, qe.label AS true_label, nn.rank,
            CASE WHEN ne.label = qe.label THEN 1 ELSE 0 END AS rel
          FROM nn JOIN embeddings ne ON nn.neighbor_id = ne.vec_id
                  JOIN embeddings qe ON nn.query_id = qe.vec_id),
    c AS (SELECT *, SUM(rel) OVER (PARTITION BY query_id ORDER BY rank)
                      AS rel_cnt FROM j),
    g AS (SELECT query_id, true_label,
            CAST(SUM(rel) AS BIGINT) AS n_rel,
            CAST(MIN(CASE WHEN rel = 1 THEN rank END) AS INT)
              AS first_rel_rank,
            CAST(SUM(CASE WHEN rel = 1 THEN (60 // rank) * rel_cnt END)
              AS BIGINT) AS ap_num
          FROM c GROUP BY 1, 2)"""

  /** Per-probe retrieval ranking quality ([[graft.ops.Retrieval.rankEval]])
    * with label-match relevance over the brute-force top-5: reciprocal
    * rank, precision@5 and AP@5 per query — the ranker eval a retrieval
    * stack runs before trusting an index. RR/AP are exact integer
    * rationals over lcm(1..5)=60 with ONE final IEEE division, so the
    * doubles are engine- and partition-independent; a query with no
    * relevant hit reports NULL (not a fake 0). Probe-bounded throughout:
    * |queries|·5 candidate rows, one narrow per-query shuffle. */
  private def retrievalRankEval(s: SparkSession, d: String): DataFrame =
    Retrieval.rankEval(retrievalRel(s, d), k = 5, carry = Seq("true_label"))
      .orderBy("query_id")

  private lazy val retrievalRankEvalSql = s"""$retrievalRelSql
    SELECT query_id, true_label, n_rel, first_rel_rank,
           CAST(1 AS DOUBLE) / first_rel_rank AS rr,
           CAST(n_rel AS DOUBLE) / 5 AS prec_at_5,
           CASE WHEN n_rel > 0
                THEN CAST(ap_num AS DOUBLE) / CAST(60 * n_rel AS DOUBLE)
           END AS ap_at_5
    FROM g ORDER BY query_id"""

  /** Macro retrieval metrics per true label — the summary row a ranker
    * dashboard keys on: query count, hit rate inputs (n_hit, hits@1), MRR
    * and macro precision@5. MRR's numerator is the exact integer
    * Σ (60 div first_rel_rank) (0 for no-hit queries, the standard MRR
    * convention), divided ONCE — engine-identical doubles, same discipline
    * as the per-query entry. Label-grouped over the probe-bounded
    * per-query frame: nothing corpus-sized. */
  private def retrievalEvalByLabel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Retrieval.rankEval(retrievalRel(s, d), k = 5, carry = Seq("true_label"))
      .groupBy($"true_label")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when($"n_rel" > 0, 1L).otherwise(0L)).as("n_hit"),
        sum(when($"first_rel_rank" === 1, 1L).otherwise(0L)).as("hits_at_1"),
        sum(coalesce(expr("60 div first_rel_rank").cast("long"), lit(0L)))
          .as("mrr_num"),
        sum($"n_rel").as("rel_total"))
      .select($"true_label", $"n_queries", $"n_hit", $"hits_at_1",
        ($"mrr_num".cast("double") / ($"n_queries" * 60).cast("double"))
          .as("mrr"),
        ($"rel_total".cast("double") / ($"n_queries" * 5).cast("double"))
          .as("macro_prec_at_5"))
      .orderBy($"true_label")
  }

  private lazy val retrievalEvalByLabelSql = s"""$retrievalRelSql
    SELECT true_label, CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN n_rel > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           CAST(SUM(CASE WHEN first_rel_rank = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS hits_at_1,
           CAST(SUM(COALESCE(60 // first_rel_rank, 0)) AS DOUBLE)
             / CAST(60 * COUNT(*) AS DOUBLE) AS mrr,
           CAST(SUM(n_rel) AS DOUBLE) / CAST(5 * COUNT(*) AS DOUBLE)
             AS macro_prec_at_5
    FROM g GROUP BY true_label ORDER BY true_label"""

  /** RAG-style token-window chunking: every document split into overlapping
    * 64-token windows at stride 32 — the chunk table an embedding/retrieval
    * stage consumes. Pure codegen: tokens once, chunk indices explode
    * map-side from the integer chunk count ((n-W+S-1) div S + 1, exact
    * integer math both engines), each chunk a `slice` + `array_join` — no
    * UDF, no shuffle at all until a consumer asks for one; at 100 TB this
    * is a scan-bound map stage. Chunk grid is token-bounded (≤ n/S + 1
    * chunks per doc), and a short doc yields exactly one chunk. */
  private def docChunking(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val W = 64
    val S = 32
    Tables.documents(s, d)
      .select($"doc_id", TextAnalysis.tokens($"text").as("w"))
      .select($"doc_id", $"w", size($"w").as("n"))
      .select($"doc_id", $"w",
        explode(sequence(lit(0),
          when($"n" <= W, 0).otherwise(expr(s"(n - $W + $S - 1) div $S"))))
          .as("i"))
      .select($"doc_id", ($"i" + 1).cast("int").as("chunk_idx"),
        ($"i" * S + 1).cast("int").as("start_tok"),
        slice($"w", $"i" * S + 1, lit(W)).as("c"))
      .select($"doc_id", $"chunk_idx", $"start_tok",
        size($"c").as("n_tokens"), array_join($"c", " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  private val docChunkingSql: String = """
    WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM documents),
    n AS (SELECT doc_id, w, len(w) AS n FROM t),
    c AS (SELECT doc_id, w,
            unnest(range(0, CASE WHEN n <= 64 THEN 0
                                 ELSE (n - 64 + 31) // 32 END + 1)) AS i
          FROM n)
    SELECT doc_id, CAST(i + 1 AS INT) AS chunk_idx,
           CAST(i * 32 + 1 AS INT) AS start_tok,
           CAST(len(w[(i*32+1):(i*32+64)]) AS INT) AS n_tokens,
           list_aggregate(w[(i*32+1):(i*32+64)], 'string_agg', ' ') AS chunk_text
    FROM c ORDER BY doc_id, chunk_idx"""

  /** The CCNet head/middle/tail partition (Wenzek et al. 2020 §4.3) over
    * the registry's own LM quality proxy: docs ranked by their
    * `lm_bigram_score` and cut into thirds by deterministic ntile
    * (score DESC, doc_id ties) — head = most language-model-like. The
    * global ntile sorts only the |docs|-row score table (the
    * customer_deciles discipline; at extreme scale swap for quantile
    * thresholds from approx_percentile). Single-token docs have no
    * bigrams and are absent, matching the score operator's domain. */
  private def ccnetPerplexityBuckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"avg_p".desc, $"doc_id".asc)
    TextAnalysis.lmBigramScore(Tables.documents(s, d))
      .select($"doc_id", $"avg_p", ntile(3).over(w).as("tert"))
      .select($"doc_id", $"avg_p",
        when($"tert" === 1, "head").when($"tert" === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy($"doc_id")
  }

  private lazy val ccnetPerplexityBucketsSql: String = s"""
    WITH s AS ($lmBigramScoreSql)
    SELECT doc_id, avg_p,
           CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket
    FROM (SELECT doc_id, avg_p,
                 ntile(3) OVER (ORDER BY avg_p DESC, doc_id ASC) AS nt
          FROM s)
    ORDER BY doc_id"""

  /** Cluster-coherence read-out (see [[graft.ops.Similarity.clusterQuality]]):
    * per label, mean member-to-own-prototype cosine vs the best other
    * prototype, and the margin — the "is k right / are these labels
    * clusters" decision input. */
  private def clusterQualityQ(s: SparkSession, d: String): DataFrame =
    Similarity.clusterQuality(Tables.embeddings(s, d)).orderBy("label")

  /** Shared CTE body ending in `pm` = (vec_id, label, own, best_other) —
    * the oracle twin of [[graft.ops.Similarity.memberPrototypeCos]];
    * cluster_quality aggregates it, embedding_outliers z-scores it. */
  private val prototypeCosCtes: String = s"""
    WITH dims AS (
      SELECT vec_id, label, u.dim AS dim, u.x AS x
      FROM (SELECT vec_id, label,
              unnest([{'dim': i-1, 'x': CAST(embedding[i] AS DOUBLE)}
                      for i in range(1, len(embedding)+1)]) AS u
            FROM embeddings)),
    cents AS (
      SELECT label AS c_label, dim,
             CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) / COUNT(x) AS centroid
      FROM dims GROUP BY 1, 2),
    cnorm AS (
      SELECT c_label,
             sqrt(CAST(SUM(CAST(centroid * centroid AS DECIMAL(38,6))) AS DOUBLE))
               AS c_norm
      FROM cents GROUP BY 1),
    vnorm AS (
      SELECT vec_id,
             sqrt(CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE)) AS v_norm
      FROM dims GROUP BY 1),
    dots AS (
      SELECT vec_id, d.label, c.c_label,
             CAST(SUM(CAST(d.x * c.centroid AS DECIMAL(38,6))) AS DOUBLE) AS dot
      FROM dims d JOIN cents c USING (dim) GROUP BY 1, 2, 3),
    cosv AS (
      SELECT vec_id, label, c_label, dot / (v_norm * c_norm) AS cos
      FROM dots JOIN vnorm USING (vec_id) JOIN cnorm USING (c_label)),
    pm AS (
      SELECT vec_id, label,
             MAX(CASE WHEN label = c_label THEN cos END) AS own,
             MAX(CASE WHEN label <> c_label THEN cos END) AS best_other
      FROM cosv GROUP BY 1, 2)"""

  private lazy val clusterQualitySql: String = s"""$prototypeCosCtes
    SELECT label, COUNT(*) AS n_members,
           ${Exact.sqlAvg("own")} AS mean_own_cos,
           ${Exact.sqlAvg("best_other")} AS mean_best_other_cos,
           ${Exact.sqlAvg("own - best_other")} AS mean_margin
    FROM pm GROUP BY label ORDER BY label"""

  /** Embedding outlier flags — the SemDeDup-style pruning input: vectors
    * far from their OWN label prototype are mislabel/noise candidates.
    * Per-label z-scores of the own-prototype cosine via the generic
    * [[graft.ops.Audit.groupZScoreOutliers]] (exact DECIMAL moments,
    * clamped variance, degenerate groups z=0 — the length_outliers
    * discipline applied to the [[graft.ops.Similarity.memberPrototypeCos]]
    * frame). The |labels|-row moment table broadcasts back; members never
    * shuffle twice. */
  private def embeddingOutliers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.ops.Audit.groupZScoreOutliers(
        Similarity.memberPrototypeCos(Tables.embeddings(s, d))
          .select($"vec_id", $"label", $"own"),
        col("label"), col("own"))
      .select($"vec_id", $"label", $"own", $"z", $"is_outlier")
      .orderBy($"vec_id")
  }

  private lazy val embeddingOutliersSql: String = s"""$prototypeCosCtes,
    m AS (SELECT label, COUNT(*) AS n,
            CAST(SUM(CAST(own AS DECIMAL(38,6))) AS DOUBLE) AS sx,
            CAST(SUM(CAST(own * own AS DECIMAL(38,6))) AS DOUBLE) AS sx2
          FROM pm GROUP BY label),
    st AS (SELECT label, sx / n AS mean,
             sqrt(greatest(sx2 / n - (sx / n) * (sx / n), 0.0)) AS std
           FROM m),
    zz AS (SELECT vec_id, pm.label, own,
             CASE WHEN std = 0.0 THEN 0.0 ELSE (own - mean) / std END AS z
           FROM pm JOIN st ON pm.label = st.label)
    SELECT vec_id, label, own, z, abs(z) > 2.0 AS is_outlier
    FROM zz ORDER BY vec_id"""

  /** Character-diversity signal (see [[graft.ops.TextAnalysis.charGini]]):
    * Gini impurity of each doc's character distribution + top-char share —
    * entropy's job without entropy's cross-engine `ln` hazard. */
  private def charGiniQ(s: SparkSession, d: String): DataFrame =
    TextAnalysis.charGini(Tables.documents(s, d)).orderBy("doc_id")

  private val charGiniSql: String = """
    WITH ch AS (
      SELECT doc_id, substr(text, CAST(i AS INT), 1) AS ch
      FROM (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
            FROM documents WHERE length(text) > 0)),
    cnt AS (SELECT doc_id, ch, COUNT(*) AS c FROM ch GROUP BY 1, 2)
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS INT) AS distinct_chars,
           1.0 - CAST(SUM(c * c) AS DOUBLE)
               / CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_char_ratio
    FROM cnt GROUP BY doc_id ORDER BY doc_id"""

  /** Per-source characteristic keywords via class-based TF-IDF (the
    * BERTopic c-TF-IDF idea at source granularity): terms counted per
    * source, document-frequency counted ACROSS sources, score =
    * tf·|sources|/df — corpus-wide boilerplate (df = all sources) scores
    * low, source-specific vocabulary scores high. Pure rational
    * arithmetic (one exact long product, one IEEE division). The term
    * stats are one shuffle on (source, term); the top-5 window runs over
    * the vocab-sized aggregate, never the corpus. The "what is this crawl
    * actually full of" dashboard behind domain_balance decisions. */
  private def sourceKeywords(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"source", explode(TextAnalysis.tokens($"text")).as("term"))
      .groupBy($"source", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nsrc = Tables.documents(s, d)
      .agg(countDistinct($"source").as("nsrc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"score".desc, $"term".asc)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(nsrc))
      .select($"source", $"term", $"tf", $"df",
        (($"tf" * $"nsrc").cast("double") / $"df").as("score"))
      .select($"source", $"term", $"tf", $"df", $"score",
        row_number().over(w).as("rank"))
      .filter($"rank" <= 5)
      .select($"source", $"rank", $"term", $"tf", $"df", $"score")
      .orderBy($"source", $"rank")
  }

  private val sourceKeywordsSql: String = """
    WITH t AS (SELECT source, unnest(string_split(lower(trim(text)), ' ')) AS term
               FROM documents),
    tf AS (SELECT source, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    ns AS (SELECT COUNT(DISTINCT source) AS nsrc FROM documents),
    sc AS (SELECT source, term, tf, df,
             CAST(tf * nsrc AS DOUBLE) / df AS score
           FROM tf JOIN df USING (term) CROSS JOIN ns),
    r AS (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY score DESC, term ASC) AS rank
          FROM sc)
    SELECT source, CAST(rank AS INT) AS rank, term,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, score
    FROM r WHERE rank <= 5 ORDER BY source, rank"""

  /** nprobe → recall curve over the IVF index — the tuning read a
    * deployment makes BEFORE fixing its probe width: for each nprobe in
    * {1,2,4,8,16}, recall@5 of the partial-probe pipeline (the
    * [[knnIvfPartial]] machinery with the probe cut at nprobe lists)
    * against the exact brute-force top-5. The centroid ranking, list
    * membership and scoring replay [[knnIvfPartial]]'s deterministic
    * chain, so the oracle re-derives every point of the curve; nprobe=16
    * probes every list and must read exactly 1.0 — the curve's built-in
    * sanity anchor. One PQ fit + one centroid-distance ranking shared by
    * all five cuts; per-cut cost is the probed lists' exact scoring. */
  private def ivfNprobeCurve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.VectorFunctions._
    val emb = Tables.embeddings(s, d)
    val model = graft.ops.Pq.fit(emb, m = 1, ncodes = 16, iters = 1)
    val clusters = graft.ops.Pq.encode(model, emb)
      .select($"vec_id", $"code".as("cluster_id"))
    val vecs = emb.select($"vec_id", toDouble($"embedding").as("emb"))
      .withColumn("nrm", norm($"emb"))
    val q = vecs.filter($"vec_id" < 20)
      .select($"vec_id".as("query_id"), $"emb".as("q_emb"), $"nrm".as("q_nrm"),
        normSq($"emb").as("qn"))
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d2", $"code")
    val ranked = q
      .crossJoin(broadcast(model.codebook.select($"code", $"cvec", $"cn")))
      .select($"query_id", $"q_emb", $"q_nrm", $"code",
        ($"qn" - lit(2.0) * dot($"q_emb", $"cvec") + $"cn").as("d2"))
      .withColumn("rn", row_number().over(byQuery))
    // ONE evaluation of the cluster join + exact scoring at the MAXIMAL
    // probe depth (rn carries each candidate's probe rank), LRU-persisted:
    // every nprobe point of the sweep is a filter over this frame, so the
    // 5-point curve pays the scoring once, not once per point — and the
    // brute-force truth (the intended BNLJ) likewise evaluates once for
    // all 5 semi-joins + the totals instead of 6 times
    val scored = graft.ops.InternalCaches.persistBounded(
      ranked.select($"query_id", $"q_emb", $"q_nrm", $"rn",
          $"code".as("cluster_id"))
        .join(clusters, "cluster_id")
        .filter($"vec_id" =!= $"query_id")
        .join(vecs, "vec_id")
        .select($"query_id", $"rn", $"vec_id".as("neighbor_id"),
          cosinePrenormed($"emb", $"q_emb", $"nrm", $"q_nrm").as("cos")))
    val truth = graft.ops.InternalCaches.persistBounded(
      Similarity.knnBruteForce(emb, queries(s, d))
        .select($"query_id", $"neighbor_id"))
    val tot = truth.agg(countDistinct($"query_id").as("n_queries"),
      count(lit(1)).as("n_truth"))
    // ONE-PASS sweep (r20, guide §2.4): the r19 shape evaluated, PER
    // nprobe point, a row_number window over the filtered candidates, a
    // semi-join against truth and two count aggregates — ~20 plan
    // branches for 5 points. All five points fold into one window pass:
    // in the same (cos DESC, neighbor_id) total order row_number ranks
    // by, a running count of rows with rn <= np IS the row's rank among
    // that point's candidates (the order is total — ties cannot exist —
    // so the running count at a row equals row_number over the filtered
    // frame), hence "in the point's top-5" ⟺ rn <= np ∧ running count
    // <= 5. One window (5 running sums), one left join against truth,
    // one global aggregate, then 5 result rows exploded from the single
    // count row — bit-identical outputs.
    val nps = Seq(1, 2, 4, 8, 16)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val flagged = scored.select(
      Seq($"query_id", $"neighbor_id", $"rn") ++
        nps.map(np =>
          sum(when($"rn" <= np, 1L).otherwise(0L)).over(w).as(s"rc$np")): _*)
    // coalesce(0): a global sum over an empty frame is NULL where the r19
    // shape's count(1) was 0
    val aggs = nps.flatMap(np => Seq(
      coalesce(sum(when($"rn" <= np, 1L).otherwise(0L)), lit(0L)).as(s"cand$np"),
      coalesce(sum(when($"rn" <= np && col(s"rc$np") <= 5 && $"__t".isNotNull,
        1L).otherwise(0L)), lit(0L)).as(s"hit$np")))
    val counted = flagged
      .join(truth.withColumn("__t", lit(1L)), Seq("query_id", "neighbor_id"),
        "left")
      .agg(aggs.head, aggs.tail: _*)
    tot.crossJoin(broadcast(counted))
      .select(explode(array(nps.map(np => struct(
        lit(np).as("nprobe"), $"n_queries", $"n_truth",
        col(s"hit$np").as("n_hit"),
        (col(s"hit$np") / $"n_truth").as("recall_at_5"),
        col(s"cand$np").as("n_candidates"),
        (col(s"cand$np") / $"n_queries").as("cand_per_query"))): _*)).as("r"))
      .select($"r.*").orderBy($"nprobe")
  }

  private lazy val ivfNprobeCurveSql: String = {
    val nps = Seq(1, 2, 4, 8, 16)
    val per = nps.map { np =>
      s"""p$np AS (SELECT query_id, code AS cluster_id FROM rnk WHERE rn <= $np),
    c$np AS (SELECT p2.query_id, cl.vec_id
             FROM p$np p2 JOIN cl USING (cluster_id)
             WHERE cl.vec_id <> p2.query_id),
    s$np AS (SELECT c.query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(1, 65),
                 i -> a.svec[i] * b.svec[i])) / (a.nrm * b.nrm) AS cos
             FROM c$np c
             JOIN nn a ON c.query_id = a.vec_id
             JOIN nn b ON c.vec_id = b.vec_id),
    t$np AS (SELECT query_id, neighbor_id
             FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                ORDER BY cos DESC, neighbor_id) AS rank
                   FROM s$np)
             WHERE rank <= 5),
    h$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hit
             FROM bf JOIN t$np USING (query_id, neighbor_id)),
    n$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM c$np)"""
    }.mkString(",\n    ")
    val rows = nps.map(np =>
      s"SELECT $np AS nprobe, n_queries, n_truth, n_hit, n_hit::DOUBLE / n_truth AS recall_at_5, n_candidates, n_candidates::DOUBLE / n_queries AS cand_per_query FROM tot CROSS JOIN h$np CROSS JOIN n$np")
      .mkString("\n    UNION ALL ")
    s"""
    WITH $semanticClusterCtes,
    q AS (SELECT vec_id AS query_id, svec AS q_emb, sn AS qn, sqrt(sn) AS q_nrm
          FROM svn WHERE vec_id < 20),
    ld AS (SELECT q.query_id, cbn.code,
             q.qn - 2.0 * list_sum(list_transform(range(1, 65),
               i -> q.q_emb[i] * cbn.cvec[i])) + cbn.cn AS d2
           FROM q CROSS JOIN cbn),
    rnk AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY d2, code) AS rn FROM ld),
    bf AS (SELECT query_id, neighbor_id FROM ($knnBruteForceSql)),
    tot AS (SELECT (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM bf) AS n_queries,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM bf) AS n_truth),
    $per
    $rows ORDER BY nprobe"""
  }

  /** Per-source quality-gate drift — [[qualityBySource]] crossed with
    * [[corpusDrift]]'s before/after proxy: for each source, the keep rate
    * of the composite gate on the two doc_id-parity halves and their
    * ratio, PLUS the gate's first-fail drop-reason counts per half
    * ([[qualityBySource]]'s attribution) — a source whose keep rate
    * HOLDS while its failure mode shifts (short docs giving way to
    * repetition, say) is an extraction change the rate alone hides
    * (r15 verdict task). A source whose keep rate collapses between
    * snapshots is the re-crawl signal BEFORE volume drifts; the parity
    * split stands in for ingest batches exactly as in corpus_drift (swap
    * the predicate for a batch column in production). One gate pass +
    * one |sources|-sized aggregate; the oracle wraps the gate SQL
    * (single source of truth). */
  private def qualityDriftBySource(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val qf = TextAnalysis.qualityFilter(docs).select($"doc_id", $"keep", $"reason")
    docs.select($"doc_id", $"source", pmod($"doc_id", lit(2L)).as("half"))
      .join(qf, "doc_id")
      .groupBy($"source")
      .agg(
        sum(when($"half" === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when($"half" === 0 && $"keep", 1L).otherwise(0L)).as("kept_a"),
        sum(when($"half" === 1, 1L).otherwise(0L)).as("n_b"),
        sum(when($"half" === 1 && $"keep", 1L).otherwise(0L)).as("kept_b"),
        sum(when($"half" === 0 && $"reason" === "lang", 1L).otherwise(0L)).as("n_lang_a"),
        sum(when($"half" === 1 && $"reason" === "lang", 1L).otherwise(0L)).as("n_lang_b"),
        sum(when($"half" === 0 && $"reason" === "too_short", 1L).otherwise(0L)).as("n_too_short_a"),
        sum(when($"half" === 1 && $"reason" === "too_short", 1L).otherwise(0L)).as("n_too_short_b"),
        sum(when($"half" === 0 && $"reason" === "repetition", 1L).otherwise(0L)).as("n_repetition_a"),
        sum(when($"half" === 1 && $"reason" === "repetition", 1L).otherwise(0L)).as("n_repetition_b"))
      .withColumn("keep_rate_a",
        when($"n_a" > 0, $"kept_a".cast("double") / $"n_a"))
      .withColumn("keep_rate_b",
        when($"n_b" > 0, $"kept_b".cast("double") / $"n_b"))
      .withColumn("drift_ratio",
        when($"keep_rate_a" > 0, $"keep_rate_b" / $"keep_rate_a"))
      .orderBy("source")
  }

  private lazy val qualityDriftBySourceSql = s"""
    WITH qf AS ($qualityFilterSql),
    j AS (SELECT d.source, d.doc_id % 2 AS half, qf.keep, qf.reason
          FROM documents d JOIN qf USING (doc_id)),
    a AS (SELECT source,
            CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(SUM(CASE WHEN half = 0 AND keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_a,
            CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
            CAST(SUM(CASE WHEN half = 1 AND keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_b,
            CAST(SUM(CASE WHEN half = 0 AND reason = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_a,
            CAST(SUM(CASE WHEN half = 1 AND reason = 'lang' THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_b,
            CAST(SUM(CASE WHEN half = 0 AND reason = 'too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short_a,
            CAST(SUM(CASE WHEN half = 1 AND reason = 'too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_too_short_b,
            CAST(SUM(CASE WHEN half = 0 AND reason = 'repetition' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition_a,
            CAST(SUM(CASE WHEN half = 1 AND reason = 'repetition' THEN 1 ELSE 0 END) AS BIGINT) AS n_repetition_b
          FROM j GROUP BY 1),
    r AS (SELECT source, n_a, kept_a, n_b, kept_b,
            n_lang_a, n_lang_b, n_too_short_a, n_too_short_b,
            n_repetition_a, n_repetition_b,
            CASE WHEN n_a > 0 THEN kept_a::DOUBLE / n_a END AS keep_rate_a,
            CASE WHEN n_b > 0 THEN kept_b::DOUBLE / n_b END AS keep_rate_b
          FROM a)
    SELECT source, n_a, kept_a, n_b, kept_b,
           n_lang_a, n_lang_b, n_too_short_a, n_too_short_b,
           n_repetition_a, n_repetition_b, keep_rate_a, keep_rate_b,
           CASE WHEN keep_rate_a > 0 THEN keep_rate_b / keep_rate_a END AS drift_ratio
    FROM r ORDER BY source"""

  /** End-to-end curation roundtrip — the star_roundtrip posture for the
    * LLM-pipeline side: quality gate → minhash near-dup dedup (keep the
    * smaller id of every verified ≥0.8 pair) → decontaminate against the
    * held-out benchmark slice (doc_id % 10 == 0, excluded from the corpus
    * at ingestion) → DSIR importance resample toward src0 → sequence
    * packing at ctxLen 512 — with EVERY stage written through the real
    * range-sorted parquet sink ([[graft.sources.FileFormats
    * .writeRangeSorted]]) and read back from disk before the next stage
    * consumes it, so the answer proves the sink layer end-to-end through
    * five hops. Output: one row per source with the raw→gated→deduped→
    * clean→sampled survivor ladder, the sampled token volume, and the
    * packing report (sequences, padding, boundary docs, efficiency)
    * aggregated FROM THE WRITTEN packing artifact. The oracle recomputes
    * the whole ladder from the raw documents table, reusing the gate /
    * Jaccard-pair / DSIR fragments verbatim (rebased onto stage views) so
    * a drift in any stage's semantics fails both this and the stage's own
    * registry row. numFiles=8 suits test SFs; a 100 TB run sizes it to
    * the cluster (the sink's disjoint-range property is what matters). */
  private def corpusRoundtrip(s: SparkSession, d: String): DataFrame =
    corpusRoundtripTo(s, d, graft.sources.Scratch.dir("graft_corpus_rt"))

  /** [[corpusRoundtrip]] with a caller-chosen staging root, so specs can
    * inspect the written stage layouts (SourcesSpec pins them). */
  private[graft] def corpusRoundtripTo(s: SparkSession, d: String,
                                       out: String): DataFrame =
    corpusRoundtripFrom(s, Tables.documents(s, d), out)

  /** [[corpusRoundtrip]] over a caller-supplied documents frame — the
    * schema-evolution seam: SourcesSpec feeds a WIDENED corpus through
    * the five sink hops and asserts the extra column rides every stage
    * while the ladder is unchanged (the operators are column-pruned; the
    * stage sinks carry whole rows). */
  private[graft] def corpusRoundtripFrom(s: SparkSession, docsAll: DataFrame,
                                         out: String): DataFrame = {
    import s.implicits._
    val corpus = docsAll.filter($"doc_id" % 10 =!= 0)
    val bench = docsAll.filter($"doc_id" % 10 === 0)

    // Each stage's survivor-ID frame is persisted before its range-sorted
    // write: writeRangeSorted's repartitionByRange runs a key-sampling
    // job that evaluates the whole input plan ONCE BEFORE the write
    // evaluates it again — without the cache every expensive stage
    // (tokenizing gate, minhash, decontaminate 8-grams, DSIR model) pays
    // twice per invocation (r19, the corpus_roundtrip ~2× adjudication).
    // Persisting the id-only frames — never the text-carrying rows — keeps
    // the cached footprint corpus-id-sized at any corpus scale: the
    // sampling pass then re-runs only a parquet scan + broadcast-join.
    // SCOPED to the stage, not routed through InternalCaches (r20): a
    // stage cache is dead the moment its stage is written and read back
    // from parquet, and the five-per-invocation LRU registrations were a
    // large share of the churn behind the r19 full-session pathologies
    // (this entry read 32.8s in the r20 round-start full bench vs 12.6s
    // isolated) — release each cache as soon as its write completes.
    def stagedWrite(cache: DataFrame)(write: DataFrame => Unit): Unit = {
      val c = cache.persist()
      try write(c) finally { c.unpersist(blocking = false); () }
    }
    stagedWrite(
      TextAnalysis.qualityFilter(corpus).filter($"keep").select($"doc_id")) {
      keep => graft.sources.FileFormats.writeRangeSorted(
        corpus.join(keep, "doc_id"), s"$out/gate", "doc_id", 8)
    }
    val gated = FileFormats.readParquet(s, s"$out/gate")

    stagedWrite(Dedup.minhashLsh(gated).select($"d2".as("doc_id")).distinct()) {
      dup => graft.sources.FileFormats.writeRangeSorted(
        gated.join(dup, Seq("doc_id"), "left_anti"), s"$out/dedup", "doc_id", 8)
    }
    val deduped = FileFormats.readParquet(s, s"$out/dedup")

    stagedWrite(Dedup.decontaminate(deduped, bench, n = 8)
        .filter(!$"contaminated").select($"doc_id")) {
      cleanIds => graft.sources.FileFormats.writeRangeSorted(
        deduped.join(cleanIds, "doc_id"), s"$out/clean", "doc_id", 8)
    }
    val cleaned = FileFormats.readParquet(s, s"$out/clean")

    stagedWrite(graft.ops.Dsir.resample(cleaned, $"source" === "src0")
        .select($"doc_id")) {
      sampIds => graft.sources.FileFormats.writeRangeSorted(
        cleaned.join(sampIds, "doc_id"), s"$out/sample", "doc_id", 8)
    }
    val sampled = FileFormats.readParquet(s, s"$out/sample")

    // the packing transform has no small-id seam (it RESHAPES rows), so
    // its cache carries the packed rows themselves — bounded by the
    // sampled stage's token volume, the final artifact's own size
    stagedWrite(TextAnalysis.packSequences(sampled, 512)) {
      packedRows => graft.sources.FileFormats.writeRangeSorted(
        packedRows, s"$out/packed", "doc_id", 8)
    }
    val packed = FileFormats.readParquet(s, s"$out/packed")

    def cnt(df: DataFrame, as: String) =
      df.groupBy($"source").agg(count(lit(1)).as(as))
    val pk = packed.groupBy($"shard".as("source"))
      .agg(count(lit(1)).as("n_sampled"),
        sum($"n_tokens").as("toks"),
        sum(when($"spans_boundary", 1L).otherwise(0L)).as("nb"))
    corpus.select($"source").distinct()
      .join(cnt(corpus, "n_raw"), Seq("source"))
      .join(cnt(gated, "n_gated"), Seq("source"), "left")
      .join(cnt(deduped, "n_deduped"), Seq("source"), "left")
      .join(cnt(cleaned, "n_clean"), Seq("source"), "left")
      .join(pk, Seq("source"), "left")
      .select($"source", $"n_raw",
        coalesce($"n_gated", lit(0L)).as("n_gated"),
        coalesce($"n_deduped", lit(0L)).as("n_deduped"),
        coalesce($"n_clean", lit(0L)).as("n_clean"),
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        coalesce($"toks", lit(0L)).as("total_tokens"),
        coalesce($"nb", lit(0L)).as("n_boundary_docs"))
      // non-negative, so truncating div ≡ the oracle's flooring //
      .withColumn("n_sequences", expr("(total_tokens + 511) div 512"))
      .withColumn("padding_tokens",
        $"n_sequences" * 512L - $"total_tokens")
      .withColumn("efficiency",
        when($"total_tokens" > 0,
          $"total_tokens".cast("double") / ($"n_sequences" * 512L)))
      .orderBy("source")
  }

  private lazy val corpusRoundtripSql: String = {
    val gateOver = qualityFilterSql.replace("FROM documents", "FROM rt_corpus")
    val jacOver = jaccardPairsCtes.replace("FROM documents", "FROM rt_d1")
    val dsirOver = dsirFeatureSql
      .replaceFirst("(?s)^\\s*WITH", ",")
      .replace("FROM documents", "FROM rt_d3")
    raw"""
    WITH rt_corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    rt_qf AS ($gateOver),
    rt_d1 AS (SELECT c.* FROM rt_corpus c JOIN rt_qf USING (doc_id)
              WHERE rt_qf.keep),
    $jacOver,
    rt_dup AS (SELECT DISTINCT d2 AS doc_id FROM p WHERE jaccard >= 0.8),
    rt_d2 AS (SELECT * FROM rt_d1
              WHERE doc_id NOT IN (SELECT doc_id FROM rt_dup)),
    rt_bw AS (SELECT string_split(lower(trim(text)), ' ') AS w
              FROM documents WHERE doc_id % 10 = 0),
    rt_bg AS (SELECT DISTINCT unnest([list_aggregate(w[i:i+7], 'string_agg', ' ')
                                      for i in range(1, len(w)-6)]) AS g8
              FROM rt_bw WHERE len(w) >= 8),
    rt_tw AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS w FROM rt_d2),
    rt_tg AS (SELECT DISTINCT doc_id,
                unnest([list_aggregate(w[i:i+7], 'string_agg', ' ')
                        for i in range(1, len(w)-6)]) AS g8
              FROM rt_tw WHERE len(w) >= 8),
    rt_cont AS (SELECT DISTINCT doc_id FROM rt_tg
                WHERE g8 IN (SELECT g8 FROM rt_bg)),
    rt_d3 AS (SELECT * FROM rt_d2
              WHERE doc_id NOT IN (SELECT doc_id FROM rt_cont))
    $dsirOver,
    rt_mx AS (SELECT MAX(dsir_weight) AS w_max FROM dw),
    rt_g4 AS (SELECT doc_id FROM dw CROSS JOIN rt_mx
              WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
                         AS INTEGER)
                    < CAST(floor(100.0 * dsir_weight / w_max) AS INTEGER)),
    rt_d4 AS (SELECT rt_d3.* FROM rt_d3 JOIN rt_g4 USING (doc_id)),
    rt_pr AS (SELECT doc_id, source AS shard,
                len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
              FROM rt_d4),
    rt_pc AS (SELECT *,
                CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  AS tok_start
              FROM rt_pr),
    rt_pk AS (SELECT shard AS source, CAST(COUNT(*) AS BIGINT) AS n_sampled,
                CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
                CAST(SUM(CASE WHEN (tok_start + n_tokens - 1) // 512 > tok_start // 512
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
              FROM rt_pc GROUP BY 1),
    rt_c0 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw FROM rt_corpus GROUP BY 1),
    rt_c1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_gated FROM rt_d1 GROUP BY 1),
    rt_c2 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_deduped FROM rt_d2 GROUP BY 1),
    rt_c3 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_clean FROM rt_d3 GROUP BY 1)
    SELECT rt_c0.source, n_raw,
           COALESCE(n_gated, 0) AS n_gated,
           COALESCE(n_deduped, 0) AS n_deduped,
           COALESCE(n_clean, 0) AS n_clean,
           COALESCE(n_sampled, 0) AS n_sampled,
           COALESCE(total_tokens, 0) AS total_tokens,
           COALESCE(n_boundary_docs, 0) AS n_boundary_docs,
           CAST((COALESCE(total_tokens, 0) + 511) // 512 AS BIGINT) AS n_sequences,
           CAST((COALESCE(total_tokens, 0) + 511) // 512 * 512
                - COALESCE(total_tokens, 0) AS BIGINT) AS padding_tokens,
           CASE WHEN COALESCE(total_tokens, 0) = 0 THEN NULL
                ELSE total_tokens::DOUBLE / ((total_tokens + 511) // 512 * 512)
           END AS efficiency
    FROM rt_c0 LEFT JOIN rt_c1 USING (source) LEFT JOIN rt_c2 USING (source)
         LEFT JOIN rt_c3 USING (source) LEFT JOIN rt_pk USING (source)
    ORDER BY source"""
  }

  val registry: Seq[Q] = Seq(
    Q("corpus_roundtrip", corpusRoundtrip, Some(corpusRoundtripSql)),
    Q("ivf_nprobe_curve", ivfNprobeCurve, Some(ivfNprobeCurveSql)),
    Q("quality_drift_by_source", qualityDriftBySource,
      Some(qualityDriftBySourceSql)),
    Q("embedding_outliers", embeddingOutliers, Some(embeddingOutliersSql)),
    Q("source_keywords", sourceKeywords, Some(sourceKeywordsSql)),
    Q("char_gini", charGiniQ, Some(charGiniSql)),
    Q("doc_chunking", docChunking, Some(docChunkingSql)),
    Q("ccnet_perplexity_buckets", ccnetPerplexityBuckets, Some(ccnetPerplexityBucketsSql)),
    Q("cluster_quality", clusterQualityQ, Some(clusterQualitySql)),
    Q("unicode_script_profile", unicodeScriptProfile, Some(unicodeScriptProfileSql)),
    Q("knn_classify_eval", knnClassifyEval, Some(knnClassifyEvalSql)),
    Q("retrieval_rank_eval", retrievalRankEval, Some(retrievalRankEvalSql)),
    Q("retrieval_eval_by_label", retrievalEvalByLabel,
      Some(retrievalEvalByLabelSql)),
    Q("lang_id", langId, Some(langIdSql)),
    Q("lang_confusion", langConfusion, Some(langConfusionSql)),
    Q("ngram_novelty", ngramNovelty, Some(ngramNoveltySql)),
    Q("incremental_ngram_novelty", incrementalNgramNoveltyQ,
      Some(incrementalNgramNoveltySql)),
    Q("novelty_by_source", noveltyBySource, Some(noveltyBySourceSql)),
    Q("vocab_growth", vocabGrowthQ, Some(vocabGrowthSql)),
    Q("incremental_vocab", incrementalVocabQ, Some(vocabGrowthSql)),
    Q("incremental_embedding_drift", incrementalEmbeddingDriftQ,
      Some(embeddingDriftSql)),
    Q("text_quality", textQuality, Some(textQualitySql)),
    Q("gopher_rules", gopherRules, Some(gopherRulesSql)),
    Q("lm_bigram_score", lmBigramScore, Some(lmBigramScoreSql)),
    Q("token_count", tokenCount, Some(tokenCountSql)),
    Q("quality_repetition", qualityRepetition, Some(qualityRepetitionSql)),
    Q("token_topk", tokenTopK, Some(tokenTopKSql)),
    Q("pii_redact", piiRedact, Some(piiRedactSql)),
    Q("bpe_pair_counts", bpePairCounts, Some(bpePairCountsSql)),
    Q("quality_filter", qualityFilter, Some(qualityFilterSql)),
    Q("quality_by_source", qualityBySource, Some(qualityBySourceSql)),
    Q("text_normalize", textNormalize, Some(textNormalizeSql)),
    Q("embedding_centroids", embeddingCentroids, Some(embeddingCentroidsSql)),
    Q("embedding_drift", embeddingDrift, Some(embeddingDriftSql)),
    Q("doc_fingerprint", docFingerprint, Some(docFingerprintSql)),
    Q("dedup_exact", dedupExact, Some(dedupExactSql)),
    Q("block_dedup", blockDedupQ, Some(blockDedupSql)),
    Q("fuzzy_block_dedup", fuzzyBlockDedupQ, Some(fuzzyBlockDedupSql)),
    Q("cdc_chunk_dedup", cdcChunkDedupQ, Some(cdcChunkDedupSql)),
    Q("containment_join", containmentJoinQ, Some(containmentJoinSql)),
    Q("incremental_containment", incrementalContainmentQ,
      Some(incrementalContainmentSql)),
    Q("incremental_block_dedup", incrementalBlockDedupQ, Some(incrementalBlockDedupSql)),
    Q("ngram_jaccard", ngramJaccard, Some(jaccardPairsSql)),
    Q("dedup_minhash", dedupMinhash, Some(jaccardPairsSql)),
    Q("split_leakage", splitLeakage, Some(splitLeakageSql)),
    Q("label_balance", labelBalance, Some(labelBalanceSql)),
    Q("dedup_clusters", dedupClusters, Some(dedupClustersSql)),
    Q("source_dup_stats", sourceDupStats, Some(sourceDupStatsSql)),
    Q("host_dup_stats", hostDupStatsQ, Some(hostDupStatsSql)),
    Q("host_boilerplate_rate", hostBoilerplateRateQ, Some(hostBoilerplateRateSql)),
    Q("crawl_budget", crawlBudgetQ, Some(crawlBudgetSql)),
    Q("crawl_retry_split", crawlRetrySplitQ, Some(crawlRetrySplitSql)),
    Q("url_dedup", urlDedupQ, Some(urlDedupSql)),
    Q("length_outliers", lengthOutliers, Some(lengthOutliersSql)),
    Q("dedup_keep_best", dedupKeepBest, Some(dedupKeepBestSql)),
    Q("dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    Q("dedup_embedding", dedupEmbedding, Some(dedupEmbeddingSql)),
    Q("knn_bruteforce", knnBruteForce, Some(knnBruteForceSql)),
    Q("hard_negatives", hardNegatives, Some(hardNegativesSql)),
    Q("knn_graph", knnGraphQ, Some(knnGraphSql)),
    Q("mutual_knn", mutualKnnQ, Some(mutualKnnSql)),
    Q("label_propagation", labelPropagationQ, Some(labelPropagationSql)),
    Q("random_projection", randomProjectionQ, Some(randomProjectionSql)),
    Q("rp_knn_recall", rpKnnRecallQ, Some(rpKnnRecallSql)),
    Q("truncation_recall", truncationRecallQ, Some(truncationRecallSql)),
    Q("graph_triangles", graphTrianglesQ, Some(graphTrianglesSql)),
    Q("mutual_knn_clusters", mutualKnnClusters, Some(mutualKnnClustersSql)),
    Q("embedding_pca", embeddingPca, Some(embeddingPcaSql)),
    Q("remove_top_component", removeTopComponentQ, Some(removeTopComponentSql)),
    Q("knn_lsh", knnLsh, Some(knnLshSql)),
    Q("ann_recall", annRecall, Some(annRecallSql)),
    Q("lsh_bands_curve", lshBandsCurveQ, Some(lshBandsCurveSql)),
    Q("multimodal_meta", multimodalMeta, Some(multimodalMetaSql)),
    Q("multimodal_frames", multimodalFrames, Some(multimodalFramesSql)),
    Q("multimodal_features", multimodalFeatures, Some(multimodalFeaturesSql)),
    Q("multimodal_png", multimodalPng, Some(multimodalPngSql)),
    Q("knn_ivf", knnIvf, Some(knnBruteForceSql)),
    Q("knn_ivf_disk", knnIvfDisk, Some(knnBruteForceSql)),
    Q("decontaminate", decontaminate, Some(decontaminateSql)),
    Q("seq_packing", seqPacking, Some(seqPackingSql)),
    Q("packing_efficiency", packingEfficiencyQ, Some(packingEfficiencySql)),
    Q("domain_balance", domainBalance, Some(domainBalanceSql)),
    Q("mixture_schedule", mixtureSchedule, Some(mixtureScheduleSql)),
    Q("token_budget_sample", tokenBudgetSample, Some(tokenBudgetSampleSql)),
    Q("tfidf_topterms", tfidfTopTerms, Some(tfidfTopTermsSql)),
    Q("incremental_dedup", incrementalDedup, Some(incrementalDedupSql)),
    Q("embedding_quantize", embeddingQuantize, Some(embeddingQuantizeSql)),
    Q("dataset_split", datasetSplit, Some(datasetSplitSql)),
    Q("audit_coverage", auditCoverage, Some(auditCoverageSql)),
    Q("ccnet_length_buckets", ccnetLengthBuckets, Some(ccnetLengthBucketsSql)),
    Q("quality_weighted_sample", qualityWeightedSample, Some(qualityWeightedSampleSql)),
    Q("bigram_pmi", bigramPmiQ, Some(bigramPmiSql)),
    Q("embedding_norm_stats", embeddingNormStats, Some(embeddingNormStatsSql)),
    Q("dedup_eval", dedupEval, Some(dedupEvalSql)),
    Q("minhash_band_curve", minhashBandCurve, Some(minhashBandCurveSql)),
    Q("simhash_radius_curve", simhashRadiusCurve, Some(simhashRadiusCurveSql)),
    Q("dedup_threshold_curve", dedupThresholdCurve,
      Some(dedupThresholdCurveSql)),
    Q("quality_threshold_curve", qualityThresholdCurve,
      Some(qualityThresholdCurveSql)),
    Q("contamination_score", contaminationScore, Some(contaminationScoreSql)),
    Q("contamination_threshold_curve", contaminationThresholdCurve,
      Some(contaminationThresholdCurveSql)),
    Q("span_dedup", spanDedup, Some(spanDedupSql)),
    Q("exact_substr_spans", exactSubstrSpans, Some(exactSubstrSpansSql)),
    Q("span_screen", spanScreen, Some(spanScreenSql)),
    Q("boilerplate_spans", boilerplateSpans, Some(boilerplateSpansSql)),
    Q("span_removal_stats", spanRemovalStats, Some(spanRemovalStatsSql)),
    Q("intra_doc_repeats", intraDocRepeatsQ, Some(intraDocRepeatsSql)),
    Q("token_drift", tokenDrift, Some(tokenDriftSql)),
    Q("span_containment", spanContainment, Some(spanContainmentSql)),
    Q("span_clusters", spanClusters, Some(spanClustersSql)),
    Q("pq_encode", pqEncode, Some(pqEncodeSql)),
    Q("knn_pq", knnPq, Some(knnPqSql)),
    Q("multimodal_wav", multimodalWav, Some(multimodalWavSql)),
    Q("knn_ivf_pq", knnIvfPq, Some(knnPqSql)),
    Q("knn_ivf_partial", knnIvfPartial, Some(knnIvfPartialSql)),
    Q("ivf_recall", ivfRecall, Some(ivfRecallSql)),
    Q("bm25_rank", bm25Rank, Some(bm25RankSql)),
    Q("hybrid_rrf", hybridRrf, Some(hybridRrfSql)),
    Q("bpe_train", bpeTrainQ, Some(bpeTrainSql)),
    Q("heavy_hitters", heavyHitters, Some(heavyHittersSql)),
    Q("dedup_semantic", dedupSemantic, Some(dedupSemanticSql)),
    Q("coreset_kcenter", coresetKcenter, Some(coresetKcenterSql(8))),
    Q("bpe_encode", bpeEncodeQ, Some(bpeEncodeSql)),
    Q("bpe_fertility", bpeFertilityQ, Some(bpeFertilitySql)),
    Q("bpe_budget_curve", bpeBudgetCurveQ, Some(bpeBudgetCurveSql)),
    Q("dsir_weights", dsirWeights, Some(dsirWeightsSql)),
    Q("dsir_sample", dsirSample, Some(dsirSampleSql)),
    Q("corpus_drift", corpusDrift, Some(corpusDriftSql)),
    Q("source_overlap", sourceOverlapQ, Some(sourceOverlapSql)),
    Q("incremental_source_overlap", incrementalSourceOverlapQ,
      Some(sourceOverlapSql)))
}
