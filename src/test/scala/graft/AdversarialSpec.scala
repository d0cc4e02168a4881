package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.olap.StarSchema
import graft.ops._

/** Hostile-data sweep over the top operators: the driver's seed-42 testdata
  * is uniform and clean, so the failure modes that actually bite at 100 TB —
  * hot-key skew, NULL keys, empty partitions, unicode edge text, duplicate
  * floods, empty/single-row inputs — never appear in the oracle gate. Each
  * test here PINS the operator's documented behavior on a hostile frame
  * (exact outputs or exact invariants), not merely "does not crash".
  */
class AdversarialSpec extends SparkSpec {
  import spark.implicits._

  private def ts(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000000L * 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  private def events(rows: (Long, String, Long, Double)*): DataFrame =
    rows.zipWithIndex.map { case ((u, e, us, v), i) => (u, e, ts(us), v, i.toLong) }
      .toDF("user_id", "event_type", "ts", "value", "event_id")

  private val emptyEvents = events()
  private def docs(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  // ---------------------------------------------------------------- skew

  test("skewReport quantifies a 50%-hot key exactly") {
    // 1 key with half the rows, 5000 singleton keys: the shape AQE/salting
    // decisions are made from, computed without any single-partition window
    val df = ((1 to 5000).map(_ => "hot") ++ (1 to 5000).map(i => s"k$i"))
      .toDF("k")
    val r = Skew.skewReport(df, col("k"), hotMultiple = 2.0).head()
    assert(r.getLong(r.fieldIndex("n_keys")) === 5001L)
    assert(r.getLong(r.fieldIndex("n_rows")) === 10000L)
    assert(r.getLong(r.fieldIndex("max_rows")) === 5000L)
    assert(math.abs(r.getDouble(r.fieldIndex("skew_ratio")) -
      5000.0 * 5001.0 / 10000.0) < 1e-9)
    // only the hot key clears n * n_keys >= 2 * n_rows
    assert(r.getLong(r.fieldIndex("n_hot_keys")) === 1L)
  }

  test("saltedJoin equals the plain join bit-for-bit on hot-key + NULL-key data") {
    val fact = ((1 to 2000).map(i => (java.lang.Long.valueOf(1L), i.toLong)) ++
      (1 to 50).map(i => (java.lang.Long.valueOf(i.toLong + 1), i.toLong)) ++
      (1 to 25).map(i => (null.asInstanceOf[java.lang.Long], i.toLong)))
      .toDF("key", "payload")
    val dim = ((1L to 60L).map(k => (java.lang.Long.valueOf(k), s"d$k")) :+
      ((null.asInstanceOf[java.lang.Long], "dnull")))
      .toDF("key", "attr")
    val plain = fact.join(dim, "key")
    val salted = Skew.saltedJoin(fact, dim, "key", salts = 8)
    val sp = plain.collect().map(_.toString).sorted
    val ss = salted.collect().map(_.toString).sorted
    assert(sp.toSeq === ss.toSeq)
    // NULL keys never join (SQL inner-join semantics preserved, not a NaN
    // salt accident): 2000 hot + 50 cold matches, zero NULL matches
    assert(sp.length === 2050)
    // the premise of salting actually holds on this frame: the hot key's
    // rows carry >1 distinct content-derived salt, so its build rows split
    val spread = fact.filter(col("key") === 1L)
      .select(pmod(xxhash64(col("key"), col("payload")), lit(8L)))
      .distinct().count()
    assert(spread > 1)
  }

  // ------------------------------------------------------- NULL-key sketches

  test("sketch family on all-NULL keys: excluded from sketches, probes answer definitively") {
    val nulls = (1 to 100).map(_ => (1, null.asInstanceOf[String]))
      .toDF("bucket", "item")
    // CM / Bloom document NULL exclusion: a NULL key hashes to a NULL slot
    // that can never join, which would fabricate false negatives — so the
    // build drops NULLs and the sketches come back EMPTY
    assert(Sketches.countMinSketch(nulls, col("bucket"), col("item")).count() === 0)
    assert(Sketches.bloomSketch(nulls, col("bucket"), col("item")).count() === 0)
    // probes against the empty sketches: absent, not NULL/undefined
    val probeItems = Seq("a", "b").toDF("item")
    val bp = Sketches.bloomProbe(
      Sketches.bloomSketch(nulls, col("bucket"), col("item")), probeItems, "item")
      .collect()
    assert(bp.length === 2 && bp.forall(!_.getBoolean(1)))
    val cm = Sketches.countMinEstimates(
      Sketches.countMinSketch(nulls, col("bucket"), col("item")), probeItems, "item")
      .collect()
    assert(cm.length === 2 && cm.forall(_.getLong(1) === 0L))
    // NULL probe items are likewise excluded rather than joined on NULL
    val nullProbe = Seq(null.asInstanceOf[String]).toDF("item")
    assert(Sketches.bloomProbe(
      Sketches.bloomSketch(nulls, col("bucket"), col("item")), nullProbe, "item")
      .count() === 0)
    // Misra-Gries skips NULL inputs: the sketch row exists (the group has
    // rows) but holds zero counters and zero counted weight
    val mg = Sketches.heavyHitterSketch(
      nulls, col("bucket"), lit(0), col("item"), k = 4)
    val mgRow = mg.collect()
    assert(mgRow.length === 1 && mgRow(0).getLong(mgRow(0).fieldIndex("n_items")) === 0L)
    assert(Sketches.heavyHittersMerged(mg, k = 4).count() === 0)
    // HLL: NULL keys contribute nothing — estimate 0 over a NULL-only frame
    val hll = Sketches.mergedEstimate(
      Sketches.distinctSketch(nulls, col("bucket"), col("item"))).head()
    assert(hll.getLong(hll.fieldIndex("distinct_estimate")) === 0L)
  }

  // ------------------------------------------------------------ empty input

  test("empty input: every bulk operator returns an empty frame with its full schema") {
    val emptyDocs = docs()
    val cases: Seq[(String, DataFrame, Seq[String])] = Seq(
      ("funnel", Events.funnel(emptyEvents, Seq("view", "cart", "buy")),
        Seq("user_id", "step_1_ts", "step_2_ts", "step_3_ts", "stage")),
      ("retention", Events.retentionCohorts(emptyEvents), Nil),
      ("gap_fill", Events.gapFillDaily(emptyEvents),
        Seq("user_id", "day_idx", "n_events", "ffill_value", "is_gap")),
      ("transitions", Events.transitions(emptyEvents), Nil),
      ("sliding_active", Events.slidingActiveUsers(emptyEvents), Nil),
      ("anomaly", Events.anomalyDailyCounts(emptyEvents),
        Seq("event_type", "day_idx", "z", "is_anomaly")),
      ("dedup_exact", Dedup.exact(emptyDocs),
        Seq("doc_id", "canonical_id", "is_dup")),
      ("minhash", Dedup.minhashLsh(emptyDocs), Seq("d1", "d2", "jaccard")),
      ("simhash", Dedup.simhashDup(emptyDocs), Nil),
      ("ngram_jaccard", Dedup.ngramJaccard(emptyDocs), Nil),
      ("span_dedup", Dedup.spanDedup(emptyDocs), Nil),
      ("clusters", Dedup.clusters(Seq.empty[(Long, Long)].toDF("d1", "d2")),
        Seq("doc_id", "cluster_id")),
      ("scd2", StarSchema.scd2History(
        Seq.empty[(Long, Long, String)].toDF("k", "ts_us", "v"),
        Seq("k"), col("ts_us"), Seq(col("ts_us"))),
        Seq("version", "valid_from_us", "valid_to_us", "is_current")),
      ("scd1", StarSchema.scd1Latest(
        Seq.empty[(Long, Long, String)].toDF("k", "ts_us", "v"),
        Seq("k"), Seq(col("ts_us").desc)), Nil))
    cases.foreach { case (name, df, cols) =>
      assert(df.count() === 0L, s"$name not empty on empty input")
      cols.foreach(c =>
        assert(df.columns.contains(c), s"$name lost column $c on empty input"))
    }
    // skewReport's documented empty shape: ONE row, n_keys 0, NULL stats
    val sr = Skew.skewReport(emptyEvents, col("user_id")).collect()
    assert(sr.length === 1 && sr(0).getLong(sr(0).fieldIndex("n_keys")) === 0L)
    assert(sr(0).isNullAt(sr(0).fieldIndex("skew_ratio")))
  }

  test("r11 families on degenerate input: empty frames stay empty-with-schema, PCA refuses/NaNs explicitly") {
    val emptyDocs = docs()
    val emptyEmb = Seq.empty[(Long, Array[Float], Int)]
      .toDF("vec_id", "embedding", "label")
    assert(Dedup.boilerplateSpans(emptyDocs).columns.toSeq ===
      Seq("doc_id", "start_tok", "len_tok"))
    assert(Dedup.boilerplateSpans(emptyDocs).isEmpty)
    assert(Dedup.intraDocRepeats(emptyDocs).isEmpty)
    assert(graft.ops.Similarity.mutualKnn(emptyEmb).isEmpty)
    assert(graft.ops.Similarity.hardNegatives(emptyEmb, emptyEmb).isEmpty)
    assert(Events.funnelTimings(emptyEvents, Seq("view", "cart", "buy")).isEmpty)
    assert(graft.ops.TextAnalysis.bpeFertility(
      Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")).isEmpty)
    // PCA on an empty corpus refuses loudly — no silent NaN frame
    val e = intercept[IllegalArgumentException] {
      graft.ops.Similarity.pcaPower(emptyEmb)
    }
    assert(e.getMessage.contains("empty embedding corpus"))
    // zero-variance corpus: trace exactly 0, loadings/ratio NaN (the IEEE
    // reading of "no principal direction exists") — pinned, not accidental
    val const = Seq((0L, Array(2.0f, 2.0f)), (1L, Array(2.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val pca = graft.ops.Similarity.pcaPower(const)
      .as[(Long, Double, Double, Double, Double, Double)].collect()
    assert(pca.forall(_._5 === 0.0), "constant corpus has zero trace")
    assert(pca.forall(r => r._3.isNaN && r._6.isNaN),
      "no principal direction: loadings and ratio are NaN, not fabricated")
  }

  test("single-row input: degenerate statistics are explicit, not accidental") {
    // one observed day: no variance is definable — z NULL, flag false
    val az = Events.anomalyDailyCounts(events((1L, "click", 0L, 1.0))).collect()
    assert(az.length === 1 && az(0).isNullAt(az(0).fieldIndex("z")))
    assert(!az(0).getBoolean(az(0).fieldIndex("is_anomaly")))
    // one change row: version 1, open interval, current
    val s2 = StarSchema.scd2History(
      Seq((7L, 100L, "a")).toDF("k", "ts_us", "v"),
      Seq("k"), col("ts_us"), Seq(col("ts_us"))).collect()
    assert(s2.length === 1)
    assert(s2(0).getInt(s2(0).fieldIndex("version")) === 1)
    assert(s2(0).isNullAt(s2(0).fieldIndex("valid_to_us")))
    assert(s2(0).getBoolean(s2(0).fieldIndex("is_current")))
    // one event on one day: a 1-row grid with no gap, value carried
    val gf = Events.gapFillDaily(events((1L, "click", 0L, 5.0))).collect()
    assert(gf.length === 1 && gf(0).getInt(gf(0).fieldIndex("is_gap")) === 0)
    // sliding active users: the window never extends past the last
    // observed day, so a single-day corpus yields exactly one output day
    val sa = Events.slidingActiveUsers(events((1L, "click", 0L, 1.0)), 7).collect()
    assert(sa.length === 1 && sa(0).getLong(sa(0).fieldIndex("active_users")) === 1L)
  }

  // ---------------------------------------------------------------- unicode

  test("exact dedup on unicode / zero-width / whitespace-only / NULL text") {
    val d = Seq(
      (1L, "ab"), (2L, "AB  "), (3L, " ab"),      // normalize to "ab"
      (4L, "a b"), (5L, "a  b"), (6L, "a\tb"),    // \s+ collapses: "a b"
      (7L, "a​b"),                           // zero-width space is NOT \s
      (8L, ""), (9L, "   "),                      // empty after normalize
      (10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val groups = Dedup.exact(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // lower+trim+collapse is the documented normal form
    assert(groups(1L) === 1L && groups(2L) === 1L && groups(3L) === 1L)
    assert(groups(4L) === 4L && groups(5L) === 4L && groups(6L) === 4L)
    // a zero-width space is CONTENT (Java \s excludes it): not a dup of "ab"
    assert(groups(7L) === 7L)
    // whitespace-only and empty normalize identically
    assert(groups(8L) === 8L && groups(9L) === 8L)
    // NULL text: unknown content must never collapse (the urlDedup
    // posture) — each NULL-text doc is its OWN canonical, never a dup,
    // and distinct from the empty string (which hashes "" itself)
    assert(groups(10L) === 10L && groups(11L) === 11L)
    assert(groups(8L) !== groups(10L))
    val nullDup = Dedup.exact(d).filter(col("doc_id") >= 10L)
      .select(col("is_dup")).collect()
    assert(nullDup.forall(!_.getBoolean(0)))
  }

  test("a host of failed fetches (all NULL text) reads dup_share 0 and keeps crawl budget") {
    // r18 judge finding: before the carve-out, xxhash64's NULL-skip made
    // every NULL-text doc share one seed hash, so an error-heavy host
    // read dup_share ≈ 1 and crawl_budget block-listed it — the wrong
    // action (retry, don't block). Pinned here end to end.
    val d = Seq(
      (1L, "https://dead.example.com/a", null.asInstanceOf[String]),
      (2L, "https://dead.example.com/b", null.asInstanceOf[String]),
      (3L, "https://dead.example.com/c", null.asInstanceOf[String]),
      (4L, "https://live.example.com/a",
        "a genuinely long and wordy document with plenty of distinct " +
        "content words so the quality gate keeps it around for counting"),
      (5L, "https://live.example.com/b",
        "another genuinely long and wordy document with plenty of other " +
        "distinct content words so the quality gate keeps this one too"))
      .toDF("doc_id", "url", "text")
    val hs = Dedup.hostDupStats(d).collect()
      .map(r => r.getString(0) -> r).toMap
    val dead = hs("dead.example.com")
    assert(dead.getLong(dead.fieldIndex("n_dup")) === 0L,
      "NULL-text docs must not read as duplicates of each other")
    assert(dead.getDouble(dead.fieldIndex("dup_share")) === 0.0)
    val budget = Dedup.crawlBudget(Dedup.hostDupStats(d)).collect()
      .map(r => r.getString(0) -> r.getDouble(r.fieldIndex("budget_share")))
      .toMap
    // keep_rate for dead is still 0 (gate never saw text), so its budget
    // is 0 via QUALITY — but the dup_share channel must not be the cause:
    // score = keep_rate * (1 - dup_share) with dup_share 0 keeps the
    // retry decision in the gate's hands, not the dedup's
    assert(budget("live.example.com") > 0.0)
  }

  test("r13 dedup family on NULL / empty / short text: absences are pinned, not accidental") {
    val d = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, null.asInstanceOf[String]),  // NULL text: no token rows at all
      (3L, ""),                          // one empty token after split
      (4L, "")                           // ... which dedups against doc 3's
    ).toDF("doc_id", "text")
    // NULL-text docs emit no blocks (posexplode of a NULL array) and are
    // ABSENT from per-doc stats — the hardNegatives "curate first"
    // contract, pinned so a silent change to NULL handling fails here.
    val blk = Dedup.blockDedup(d, blockWords = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(!blk.contains(2L), "NULL text must be absent, not zero-row-counted")
    assert(blk(1L) === 0L)
    assert(blk(3L) === 0L && blk(4L) === 1L,
      "empty docs tokenize to one empty block and dedup against each other")
    val cdc = Dedup.cdcChunkDedup(d).collect().map(_.getLong(0)).toSet
    assert(cdc === Set(1L, 3L, 4L), "same absence contract for CDC chunks")
    // containment: docs shorter than n tokens carry no shingles — absent
    // from BOTH sides (shingleRows contract), never a 0/0 division
    val cj = Dedup.containmentJoin(Seq(
      (1L, "a b c d e f"), (2L, "a b"), (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")).collect()
    assert(cj.isEmpty)
  }

  test("r16 family on degenerate input: empty frames keep schema, never a crash or 0/0") {
    val emptySrc = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val emptyEmb = Seq.empty[(Long, Array[Float], java.lang.Long)]
      .toDF("vec_id", "embedding", "label")
    assert(Dedup.noveltyBySource(emptySrc).isEmpty &&
      Dedup.noveltyBySource(emptySrc).columns.toSeq ===
        Seq("source", "n_docs", "n_distinct_ngrams", "n_novel_ngrams",
          "novelty_rate"))
    assert(TextAnalysis.vocabGrowth(docs()).isEmpty &&
      TextAnalysis.vocabGrowth(docs()).columns.toSeq ===
        Seq("bucket", "n_docs", "n_tokens", "new_types", "vocab_size",
          "cum_tokens"))
    assert(graft.ops.Similarity.embeddingDrift(emptyEmb).isEmpty &&
      graft.ops.Similarity.embeddingDrift(emptyEmb).columns.toSeq ===
        Seq("label", "n_a", "n_b", "norm_a", "norm_b", "centroid_cos"))
  }

  test("r13/r14 families on degenerate corpora: empty, all-identical, single-vector") {
    // ---- empty corpus: empty-with-schema, never a crash or 0/0
    val emptyDocs = docs()
    val emptySrc = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    val emptyEmb = Seq.empty[(Long, Array[Float], java.lang.Long)]
      .toDF("vec_id", "embedding", "label")
    assert(Dedup.containmentJoin(emptyDocs).columns.toSeq ===
      Seq("d_sub", "d_super", "n_sub", "inter", "containment"))
    assert(Dedup.containmentJoin(emptyDocs).isEmpty)
    assert(Dedup.cdcChunkDedup(emptyDocs).isEmpty)
    assert(graft.ops.Dsir.weights(emptySrc, $"source" === "x").isEmpty)
    assert(graft.ops.Dsir.resample(emptySrc, $"source" === "x").isEmpty)
    assert(Dedup.sourceOverlap(emptySrc).isEmpty &&
      Dedup.sourceOverlap(emptySrc).columns.toSeq ===
        Seq("s1", "s2", "n_s1", "n_s2", "n_shared",
            "containment_s1", "containment_s2", "jaccard"))
    // single source: a matrix needs two sides — empty, not a self-pair
    assert(Dedup.sourceOverlap(Seq((1L, "a b c d", "solo"), (2L, "a b x y",
      "solo")).toDF("doc_id", "text", "source")).isEmpty)
    // an EMPTY standing shingle index serves an empty matrix with schema
    val srcIdxDir = graft.sources.Scratch.dir("graft_adv_srcsh")
    Dedup.appendSourceShingleIndex(emptySrc, srcIdxDir)
    assert(Dedup.sourceOverlapFromIndex(spark, srcIdxDir).isEmpty &&
      Dedup.sourceOverlapFromIndex(spark, srcIdxDir).columns.toSeq ===
        Seq("s1", "s2", "n_s1", "n_s2", "n_shared",
            "containment_s1", "containment_s2", "jaccard"))
    val emptyState = graft.streaming.StreamingCorpusStats
      .taggedPartials(emptySrc, 8)
    assert(emptyState.isEmpty && graft.streaming.StreamingCorpusStats
      .driftFromState(emptyState, 3L).isEmpty)
    assert(Similarity.graphTriangles(emptyEmb).isEmpty)
    assert(Similarity.labelPropagate(emptyEmb).isEmpty)
    // the r14 screen with an EMPTY standing corpus, then empty arrivals
    val dir = graft.sources.Scratch.dir("graft_adv_cont")
    Dedup.appendContainmentIndex(emptyDocs, dir)
    val arr = docs((10L, "alpha beta gamma delta"))
    assert(Dedup.incrementalContainmentScreen(spark, dir, arr).isEmpty,
      "nothing can contain an arrival when the corpus is empty")
    Dedup.appendContainmentIndex(arr, dir)
    assert(Dedup.incrementalContainmentScreen(spark, dir, emptyDocs).isEmpty,
      "an empty arrival batch screens to an empty frame")

    // ---- all-identical docs: the flood reads as total mutual containment
    val t = "alpha beta gamma delta epsilon zeta eta theta"
    val flood = docs((1L, t), (2L, t), (3L, t))
    val cj = Dedup.containmentJoin(flood)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(cj.length === 6, "every ordered pair of 3 identical docs")
    assert(cj.forall(r => r._5 === 1.0 && r._3 === r._4))
    val cdc = Dedup.cdcChunkDedup(flood)
      .select($"doc_id", $"kept_ratio").as[(Long, Double)].collect().toMap
    assert(cdc(1L) === 1.0 && cdc(2L) === 0.0 && cdc(3L) === 0.0,
      "globally-first doc keeps every chunk; verbatim copies lose all")
    // DSIR on identical docs: identical features -> identical weight;
    // the resample keeps ALL of them (w/w_max = 1 -> accept rate 100)
    val floodSrc = Seq((1L, t, "tgt"), (2L, t, "raw"), (3L, t, "raw"))
      .toDF("doc_id", "text", "source")
    val dw = graft.ops.Dsir.weights(floodSrc, $"source" === "tgt")
      .select($"dsir_weight").as[Double].collect()
    assert(dw.length === 3 && dw.distinct.length === 1,
      "identical docs must score identically")
    assert(graft.ops.Dsir.resample(floodSrc, $"source" === "tgt")
      .count() === 3, "identical weights -> accept rate 100 -> all kept")

    // ---- single-vector corpus: no pairs anywhere, defined zeros/identity
    val one = Seq((0L, Array(1.0f, 0.0f), java.lang.Long.valueOf(7L)))
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.mutualKnn(one).isEmpty)
    val tri = Similarity.graphTriangles(one)
      .as[(Long, Long, Long, Double)].collect()
    assert(tri.toSeq === Seq((0L, 0L, 0L, 0.0)),
      "an isolated vector reports defined zeros, not NULL/NaN")
    val lp = Similarity.labelPropagate(one).collect()
    assert(lp.length === 1 && lp(0).getBoolean(1), "vec 0 is a seed")
    assert(lp(0).getLong(2) === 7L && lp(0).getBoolean(3),
      "a seed with no neighbors keeps its clamped label and agrees")
  }

  test("labelPropagate: NULL-label seeds vote nothing and stay NULL") {
    // Seed 0 has a NULL label: it must neither crash nor propagate NULL as
    // if it were a label; unreached nodes stay NULL; agrees is never NULL.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), null.asInstanceOf[java.lang.Long]),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f), java.lang.Long.valueOf(3L)),
      (2L, Array(0.98f, 0.15f, 0.0f, 0.0f), java.lang.Long.valueOf(3L))
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelPropagate(emb, k = 2, seedMod = 5, rounds = 2)
      .orderBy("vec_id").collect()
    assert(out.forall(!_.isNullAt(3)), "agrees must be a definite boolean")
    assert(out.forall(_.isNullAt(2)),
      "a NULL-label seed contributes no votes: every node stays unlabeled")
    assert(out.map(r => r.getLong(0) -> r.getBoolean(3)).toMap
      .forall(!_._2), "nothing can agree when nothing is labeled")
  }

  test("ngramNovelty: exact duplicates score 0, short docs 0/0, originals keep their grams") {
    val eight = "alpha beta gamma delta epsilon zeta eta theta"
    val d = docs(
      (1L, eight),                         // first occurrence: fully novel
      (2L, eight),                         // exact restatement: fully stale
      (3L, s"$eight extra tail words here continue onward"), // shares doc 1's grams, adds its own
      (4L, "too short"))                   // < 8 words: no grams at all
    val out = Dedup.ngramNovelty(d, n = 8)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(1L) === ((1L, 1L, 1L, 1.0)))
    assert(byId(2L) === ((2L, 1L, 0L, 0.0)), "a verbatim copy must score 0 novelty")
    val (_, n3, novel3, frac3) = byId(3L)
    // doc 3 contains doc 1's single 8-gram (stale) plus its own later windows
    assert(n3 > 1 && novel3 === n3 - 1 && frac3 < 1.0 && frac3 > 0.0)
    assert(byId(4L) === ((4L, 0L, 0L, 0.0)), "a gramless doc reports 0/0 -> 0.0")
    // corpus invariant: every distinct gram is novel exactly once
    assert(out.map(_._3).sum ===
      Dedup.shingleRows(d, 8).select($"g").distinct().count())
  }

  test("spanContainment: an identical-text flood above maxDf yields no pairs (stop-fingerprint cut)") {
    // every fingerprint of a 30-copy flood has df=30 > maxDf=16: the cut
    // that bounds candidate fan-out also (documentedly) blinds span ops to
    // floods — exact dedup first is the mitigation, same as minhash
    val flood = (1L to 30L).map(i => (i, "thirty exact copies of this one sentence repeated"))
    val d = flood.toDF("doc_id", "text")
    assert(Dedup.spanContainment(d, minShared = 1).count() === 0L)
    // below the cap the flood is fully visible and containment is 1.0 both
    // ways on every pair
    val small = (1L to 5L).map(i => (i, "five exact copies of this one sentence repeated"))
      .toDF("doc_id", "text")
    val out = Dedup.spanContainment(small, minShared = 1)
      .select($"cover_d1", $"cover_d2").as[(Double, Double)].collect()
    assert(out.length === 5 * 4 / 2)
    assert(out.forall(p => p._1 === 1.0 && p._2 === 1.0))
  }

  // --------------------------------------------------------- duplicate flood

  test("duplicate flood: exact dedup collapses it; minhash returns the full clique") {
    val flood = (1L to 500L).map(i => (i, "same text every time here"))
    val uniq = (501L to 520L).map(i => (i, s"totally distinct document number $i with unique words w$i x$i y$i z$i"))
    val d = (flood ++ uniq).toDF("doc_id", "text")
    val ex = Dedup.exact(d)
    assert(ex.filter(col("is_dup")).count() === 499L)
    assert(ex.filter(col("canonical_id") === 1L).count() === 500L)
    // near-dup over an identical-text flood is inherently quadratic in the
    // flood size (every pair IS a true duplicate pair): pin that the
    // documented mitigation — exact-dedup first — removes the blow-up,
    // and that on a bounded clique minhash returns exactly C(40,2) pairs
    val clique = (1L to 40L).map(i => (i, "forty copies of this exact sentence"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(clique).collect()
    assert(pairs.length === 40 * 39 / 2)
    assert(pairs.forall(_.getDouble(2) === 1.0))
    val afterExact = Dedup.exact(clique).filter(!col("is_dup"))
      .join(clique, Seq("doc_id"))
    assert(Dedup.minhashLsh(afterExact).count() === 0L)
  }

  test("clusters converges on a 200-node chain (worst-case pointer-jumping depth)") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("d1", "d2")
    val c = Dedup.clusters(chain)
    val rows = c.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.length === 200)
    assert(rows.forall(_._2 === 0L), "chain must collapse to the min label")
    // duplicate and reversed edges must not change the labeling
    val noisy = chain.union(chain).union(
      Seq((5L, 3L), (150L, 2L)).toDF("d1", "d2"))
    val rows2 = Dedup.clusters(noisy).collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows2.toSet === rows.toSet)
  }

  // ------------------------------------------------------------ event edges

  test("funnel requires STRICTLY later timestamps per step") {
    val e = events(
      // user 1: view and cart at the SAME instant — cart must not count
      (1L, "view", 1000000L, 0.0), (1L, "cart", 1000000L, 0.0),
      // user 2: cart one microsecond later — counts
      (2L, "view", 1000000L, 0.0), (2L, "cart", 1000001L, 0.0),
      // user 3: cart BEFORE view — ordered funnel rejects it
      (3L, "cart", 500000L, 0.0), (3L, "view", 1000000L, 0.0))
    val f = Events.funnel(e, Seq("view", "cart")).collect()
      .map(r => r.getLong(0) -> r.getInt(r.fieldIndex("stage"))).toMap
    assert(f === Map(1L -> 1, 2L -> 2, 3L -> 1))
  }

  test("scd2History orders equal-timestamp changes by the explicit tiebreak") {
    val ch = Seq((1L, 100L, 1L, "a"), (1L, 100L, 2L, "b"), (1L, 200L, 3L, "c"))
      .toDF("k", "ts_us", "event_id", "v")
    val h = StarSchema.scd2History(ch, Seq("k"), col("ts_us"),
        Seq(col("ts_us"), col("event_id")))
      .orderBy("version").collect()
    assert(h.map(_.getString(h(0).fieldIndex("v"))).toSeq === Seq("a", "b", "c"))
    // the tied predecessor gets a zero-length interval, never a NULL hole
    assert(h(0).getLong(h(0).fieldIndex("valid_to_us")) === 100L)
    assert(h(1).getLong(h(1).fieldIndex("valid_to_us")) === 200L)
    assert(h(2).isNullAt(h(2).fieldIndex("valid_to_us")))
    assert(h.map(_.getBoolean(h(0).fieldIndex("is_current"))).toSeq ===
      Seq(false, false, true))
  }

  test("gapFillDaily forward-fills across gaps and over NULL day values") {
    val e = events(
      (1L, "click", 0L, 5.0),                     // day 0, value 5
      (1L, "click", 2L * 86400L * 1000000L, Double.NaN)) // day 2 (value NULL below)
      .withColumn("value", when(col("value") === 5.0, col("value"))) // NaN -> NULL
    val g = Events.gapFillDaily(e).orderBy("day_idx").collect()
    assert(g.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    assert(g.map(_.getInt(g(0).fieldIndex("is_gap"))).toSeq === Seq(0, 1, 0))
    // day 1 is a gap and day 2's own value is NULL: both carry day 0's 5.0
    assert(g.map(_.getDouble(g(0).fieldIndex("ffill_value"))).toSeq ===
      Seq(5.0, 5.0, 5.0))
    assert(g(2).isNullAt(g(2).fieldIndex("day_value")))
  }

  // ------------------------------------------------- MG under flood + layout

  test("Misra-Gries guarantee holds for a 50%-hot item under any partitioning") {
    val items = ((1 to 5000).map(_ => "hot") ++ (1 to 5000).map(i => s"t$i"))
    val k = 8
    Seq(1, 13) foreach { parts =>
      val df = items.toDF("item").repartition(parts).withColumn("bucket", lit(0))
      val merged = Sketches.heavyHittersMerged(
        Sketches.heavyHitterSketch(df, col("bucket"), spark_partition_id(),
          col("item"), k), k).collect()
      val hot = merged.find(_.getString(merged(0).fieldIndex("item")) == "hot")
      // any item with f > n/(k+1) MUST survive the merge (5000 > 10000/9),
      // with its estimate inside [f - n/(k+1), f] — raw counters are
      // layout-dependent, the acceptance bound is not
      assert(hot.isDefined, s"hot item evicted at $parts partitions")
      val est = hot.get.getLong(merged(0).fieldIndex("count_est"))
      assert(est <= 5000L && (k + 1) * est >= (k + 1) * 5000L - 10000L,
        s"bound violated at $parts partitions: est=$est")
    }
  }

  // --------------------------------------- layout invariance w/ empty parts

  test("deterministic operators are invariant to partition layout (incl. empty partitions)") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa"), (4L, "alpha beta gamma delta zeta"))
    def run(parts: Int): (Seq[String], Seq[String]) = {
      // 32 partitions over 4 rows: most partitions empty — the layout a
      // filtered 100 TB scan actually hands downstream operators
      val df = d.toDF("doc_id", "text").repartition(parts)
      (Dedup.exact(df).collect().map(_.toString).sorted.toSeq,
       Dedup.minhashLsh(df, threshold = 0.5).collect().map(_.toString).sorted.toSeq)
    }
    val (e1, m1) = run(1)
    val (e32, m32) = run(32)
    assert(e1 === e32)
    assert(m1 === m32)
    val ev = events(
      (1L, "view", 1000L, 1.0), (1L, "cart", 2000L, 2.0),
      (2L, "view", 3000L, 3.0))
    def runF(parts: Int): Seq[String] =
      Events.funnel(ev.repartition(parts), Seq("view", "cart"))
        .collect().map(_.toString).sorted.toSeq
    assert(runF(1) === runF(32))
  }

  test("gopherRules on degenerate text: empty, whitespace, one word, no alpha") {
    val docs = Seq(
      (1L, ""),            // tokens of "" -> [""]: 1 zero-length "word"
      (2L, "   "),         // trimmed to the same shape
      (3L, "word"),
      (4L, "1 2 3 4 5")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.gopherRules(docs)
      .select($"doc_id", $"n_words", $"keep", $"fail_reason")
      .as[(Long, Int, Boolean, String)].collect().map(r => r._1 -> r).toMap
    // nothing degenerate passes, nothing NaN-poisons, reasons are concrete
    out.values.foreach { case (id, n, keep, reason) =>
      assert(!keep && reason === "too_short", s"doc $id: n=$n reason=$reason")
      assert(n >= 1)
    }
  }

  test("lmBigramScore drops bigram-less docs, never divides by zero") {
    val docs = Seq(
      (1L, "solo"),          // no bigrams -> no row
      (2L, ""),              // [""] -> no bigrams -> no row
      (3L, "a b")).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.lmBigramScore(docs).collect()
    assert(out.map(_.getLong(0)).toSet === Set(3L))
    val p = out.head.getAs[Double]("avg_p")
    assert(p > 0.0 && p <= 1.0 && !p.isNaN)
  }

  test("native as-of join is invariant to partition layout of both sides") {
    val l = (1L to 200L).map(i => (i % 7, i * 10, i)).toDF("k", "t_us", "id")
    val r = (1L to 50L).map(i => (i % 5, i * 37, i * 1.5)).toDF("k", "t_us", "v")
    def run(lp: Int, rp: Int): Seq[String] =
      graft.plans.AsOfJoin(l.repartition(lp), r.repartition(rp), "k", "t_us", Seq("v"))
        .collect().map(_.toString).sorted.toSeq
    val base = run(1, 1)
    assert(base === run(32, 3) && base === run(3, 32))
  }

  test("attributionBase: empty stream, touch-only stream, NULL user isolation") {
    // empty input → empty output, schema intact
    val e = Events.attributionBase(emptyEvents)
    assert(e.count() === 0L)
    assert(e.columns.contains("n_touches"))
    // touches but no conversions → empty, not a crash
    val touchesOnly = events((1L, "view", 1000L, 1.0), (1L, "click", 2000L, 1.0))
    assert(Events.attributionBase(touchesOnly).count() === 0L)
    // a NULL-user purchase sees ONLY null-user touches (nulls are their own
    // window partition on both engines, never a wildcard)
    val withNull = Seq(
      (Some(1L), "view", ts(1000L), 1.0, 1L),
      (None, "view", ts(1500L), 1.0, 2L),
      (None, "purchase", ts(2000L), 5.0, 3L),
      (Some(1L), "purchase", ts(3000L), 7.0, 4L)
    ).toDF("user_id", "event_type", "ts", "value", "event_id")
    val out = Events.attributionBase(withNull).collect()
      .map(r => Option(r.get(r.fieldIndex("user_id"))) ->
        r.getAs[Long]("n_touches")).toMap
    assert(out(None) === 1L, "null user must see only the null-user touch")
    assert(out(Some(1L)) === 1L)
  }

  test("attributionBase: a pre-epoch touch fails loudly instead of mis-ordering keys") {
    // the %020d touch key is a lexicographic total order only for
    // non-negative us/event_id (a '-' makes zero-padding non-positional,
    // inverting order among negatives) — the guard raises rather than
    // silently picking the wrong first/last touch
    val pre = events((1L, "view", -1000000L, 1.0),
                     (1L, "purchase", 2000000L, 5.0))
    val ex = intercept[Exception] { Events.attributionBase(pre).collect() }
    def chain(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + chain(t.getCause)
    assert(chain(ex).contains("non-negative"),
      s"expected the key guard to fire, got: ${chain(ex)}")
    // post-epoch rows pass the guard untouched
    val ok = events((1L, "view", 1000000L, 1.0),
                    (1L, "purchase", 2000000L, 5.0))
    assert(Events.attributionBase(ok).count() === 1L)
  }

  test("attributionBase: NULL ts/event_id on a relevant row fails loudly") {
    // NULL slips past `< 0` (three-valued logic): a NULL event_id makes a
    // key containing the text "null" (sorts after every digit → silently
    // wins last_key) and a NULL ts makes a NULL tkey that is dropped from
    // first/last while the row still counts in n_touches. Both must raise
    // like the negative case, on touch AND conversion rows.
    def chain(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + chain(t.getCause)
    def mk(rows: Seq[(Long, String, Option[Long], Option[Long], Double)]): DataFrame =
      rows.map { case (u, e, us, id, v) => (u, e, us.map(ts), id, v) }
        .toDF("user_id", "event_type", "ts", "event_id", "value")
    val nullTsTouch = mk(Seq((1L, "view", None, Some(1L), 1.0),
                             (1L, "purchase", Some(2000000L), Some(2L), 5.0)))
    val e1 = intercept[Exception] { Events.attributionBase(nullTsTouch).collect() }
    assert(chain(e1).contains("NULL ts/event_id"), s"got: ${chain(e1)}")
    val nullIdTouch = mk(Seq((1L, "view", Some(1000000L), None, 1.0),
                             (1L, "purchase", Some(2000000L), Some(2L), 5.0)))
    val e2 = intercept[Exception] { Events.attributionBase(nullIdTouch).collect() }
    assert(chain(e2).contains("NULL ts/event_id"), s"got: ${chain(e2)}")
    val nullTsConv = mk(Seq((1L, "view", Some(1000000L), Some(1L), 1.0),
                            (1L, "purchase", None, Some(2L), 5.0)))
    val e3 = intercept[Exception] { Events.attributionBase(nullTsConv).collect() }
    assert(chain(e3).contains("NULL ts/event_id"), s"got: ${chain(e3)}")
    // an IRRELEVANT event type with NULL ts passes through unharmed — the
    // guard covers exactly the rows the window and key read
    val nullOther = mk(Seq((1L, "page_load", None, Some(1L), 0.0),
                           (1L, "view", Some(1000000L), Some(2L), 1.0),
                           (1L, "purchase", Some(2000000L), Some(3L), 5.0)))
    val out = Events.attributionBase(nullOther).collect()
    assert(out.length === 1 && out.head.getAs[Long]("n_touches") === 1L)
  }

  test("stickiness and userConcentration: empty and single-user degenerates") {
    assert(Events.stickiness(emptyEvents).count() === 0L)
    assert(Events.userConcentration(emptyEvents).count() === 0L,
      "no users → no concentration row, not a divide-by-zero")
    // one user: top decile = ceil(1/10) = 1 user holding everything
    val one = events((7L, "view", 0L, 1.0), (7L, "view", 100L, 1.0))
    val r = Events.userConcentration(one).head()
    assert(r.getAs[Long]("n_users") === 1L)
    assert(r.getAs[Long]("top_users") === 1L)
    assert(r.getAs[Double]("top_share") === 1.0)
    // single active day: dau = wau, stickiness exactly 1 everywhere
    val st = Events.stickiness(one).collect()
    assert(st.length === 1 && st(0).getAs[Double]("stickiness") === 1.0)
  }

  test("r16 tuning curves on empty corpora: full or empty grid, NULL rates, never NaN or a crash") {
    // eval-shaped curves keep their full sweep grid with NULL rates (the
    // evalPairs 0/0 guard); explode-shaped curves collapse to empty-with-
    // schema (no group, no division); the BPE curve emits only the budget
    // rows the training could reach
    val emptyEmb = Seq.empty[(Long, Array[Float], java.lang.Long)]
      .toDF("vec_id", "embedding", "label")
    val lsh = Similarity.lshBandsCurve(emptyEmb, emptyEmb).collect()
    assert(lsh.length === 4)
    lsh.foreach { r =>
      assert(r.getAs[Long]("n_truth") === 0L &&
        r.getAs[Long]("n_candidates") === 0L)
      assert(r.isNullAt(r.fieldIndex("recall_at_5")),
        "0/0 recall must read NULL, not NaN")
    }
    val sg = Events.sessionGapCurve(emptyEvents.select($"user_id", $"event_id", $"ts"))
    assert(sg.isEmpty && sg.columns.toSeq === Seq("gap_us", "n_events",
      "n_sessions", "events_per_session", "in_session_us", "avg_session_us"))
    val bpe = TextAnalysis.bpeBudgetCurve(docs()).collect()
    assert(bpe.map(_.getAs[Int]("n_merges")).toSeq === Seq(0, 2, 4, 8),
      "no trainable words: every budget row still exists (training " +
        "converges at the char split, and budgets past convergence read " +
        "the fixed point — the oracle's s$r CTEs do the same)")
    bpe.foreach { r =>
      assert(r.getAs[Long]("n_bpe_tokens") === 0L)
      assert(r.isNullAt(r.fieldIndex("fertility")))
    }
    // the five doc-table curves, driven through the registry against an
    // EMPTY documents table (the composition, not just the ops)
    val dir = graft.sources.Scratch.dir("graft_adv_curves")
    Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    def curve(n: String) = SparkEntry.queries(n)(spark, dir)
    val mb = curve("minhash_band_curve").collect()
    assert(mb.length === 5 && mb.forall(r => r.getAs[Long]("n_candidate") == 0L
      && r.isNullAt(r.fieldIndex("pair_recall"))))
    val sr = curve("simhash_radius_curve").collect()
    assert(sr.length === 4 && sr.forall(r => r.getAs[Long]("n_candidate") == 0L
      && r.isNullAt(r.fieldIndex("pair_recall"))))
    val dt = curve("dedup_threshold_curve").collect()
    assert(dt.length === 5 && dt.forall(r => r.getAs[Long]("n_docs") == 0L
      && r.isNullAt(r.fieldIndex("keep_rate"))),
      "an empty corpus keeps its threshold grid; keep_rate is NULL, not 0/0")
    assert(curve("quality_threshold_curve").isEmpty)
    assert(curve("contamination_threshold_curve").isEmpty)
  }

  test("stats_corr pins the sf0.001 .5-ulp decimal->double midpoint (r19 ADVICE)") {
    // Group A's Σ(l_extendedprice²) at sf0.001 is EXACTLY
    // 7096786968835.8685 in DECIMAL(38,4) — a .5-ulp rounding midpoint
    // whose correctly-rounded (half-even) double is ...868 while DuckDB
    // 1.0.0's direct DECIMAL→DOUBLE cast rounds it ...869 (why the oracle
    // SQL casts through VARCHAR). Pin BOTH facts: if either the decimal
    // sum or the JVM's half-even cast ever drifts, this fires instead of
    // a mysterious oracle-hash failure, and any future oracle-SQL edit
    // has a named, testable reason.
    import org.apache.spark.sql.functions.{col, lit, sum, count}
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 4)
    val row = graft.sources.Tables.lineitem(spark, sf)
      .filter(col("l_returnflag") === "A")
      .agg(sum((col("l_extendedprice") * col("l_extendedprice")).cast(dec))
        .as("syy_dec"), count(lit(1)).as("n"))
      .head()
    assert(row.getDecimal(0).toPlainString === "7096786968835.8685",
      "the pinned midpoint decimal sum drifted — re-derive the stats_corr " +
        "oracle-cast rationale before touching the oracle SQL")
    assert(row.getDecimal(0).doubleValue() === 7096786968835.868,
      "JVM decimal->double is no longer half-even at the pinned midpoint")
  }
}
