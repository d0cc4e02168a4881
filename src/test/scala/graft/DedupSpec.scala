package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, TextAnalysis}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "THE quick brown fox Jumps over the lazy dog near the river bank TODAY"), // exact dup of 1 after norm
    (3L, "the quick brown fox jumps over the lazy dog near the river bank tonight"), // near-dup of 1
    (4L, "completely different content about spark shuffles and partition pruning results"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exact dedup maps normalized duplicates to the smallest doc_id") {
    val out = Dedup.exact(corpus).orderBy("doc_id").collect()
    val canon = out.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(canon(1L) === 1L && canon(2L) === 1L && canon(5L) === 1L)
    assert(canon(3L) === 3L && canon(4L) === 4L)
    assert(out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet === Set(2L, 5L))
  }

  test("fuzzyBlockDedup: one-token-off templates fold, Hamming-2 survives") {
    val docs = Seq(
      (0L, "alpha bravo charlie delta echo foxtrot golf hotel"), // first
      (1L, "alpha bravo charlie delta echo foxtrot golf india"), // Hamming 1 vs 0 (right half)
      (2L, "alpha bravo charlie delta echo foxtrot golf hotel"), // exact dup of 0
      (3L, "alpha bravo zulu delta echo foxtrot golf india"),    // Hamming 2 vs 0, 1 vs doc 1
      (4L, "one two three four five six seven eight"),           // unrelated
      (5L, "red green blue"),                                    // 3-token tail width
      (6L, "red green violet"),                                  // Hamming 1 vs 5 at width 3
      (7L, "apple banana cherry date elder fig grape honey kiwi"),  // width-1 tail "kiwi"
      (8L, "stone brick mortar tile slate glass steel beam lime"))  // width-1 tail "lime"
      .toDF("doc_id", "text")
    val out = Dedup.fuzzyBlockDedup(docs)
      .select("doc_id", "n_blocks", "n_removed").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === ((1L, 0L)), "the earliest template instance survives")
    assert(out(1L) === ((1L, 1L)), "one token off (right half) is dominated")
    assert(out(2L) === ((1L, 1L)), "exact duplicates still fold (rule 1)")
    // doc 3 is Hamming 2 from doc 0 but Hamming 1 from doc 1's first
    // instance — domination is non-recursive, so being dominated by a
    // dominated block still removes it
    assert(out(3L) === ((1L, 1L)))
    assert(out(4L) === ((1L, 0L)), "unrelated content survives")
    assert(out(5L) === ((1L, 0L)) && out(6L) === ((1L, 1L)),
      "equal tail widths compare; Hamming 1 at width 3 folds")
    // width-1 tails are OUTSIDE the fuzzy rule: their second half is
    // empty, so without the bw >= 2 restriction every distinct lone tail
    // token would dominate every later one (r17 ADVICE) — "kiwi" and
    // "lime" share nothing and both must survive
    assert(out(7L) === ((2L, 0L)) && out(8L) === ((2L, 0L)),
      "unrelated single-token tails must not fuzzy-dominate each other")
  }

  test("hostOf normalizes scheme, case, www, userinfo, port, and path") {
    val cases = Seq(
      ("https://www.Example.COM/path?q=1#f", "example.com"),
      ("http://example.com:8080/", "example.com"),
      ("ftp://user:pw@sub.example.com:21/x", "sub.example.com"),
      ("example.com/bare/path", "example.com"), // scheme-less passes through
      ("HTTPS://WWW.EXAMPLE.COM", "example.com"),
      ("https://wwwx.example.com", "wwwx.example.com"), // only the www. LABEL strips
      ("https://example.com?q=a@b", "example.com")) // @ in query is not userinfo
    val out = cases.map(_._1).toDF("url")
      .select(Dedup.hostOf($"url").as("h")).as[String].collect().toSeq
    assert(out === cases.map(_._2),
      "host normalization must hit every rule exactly")
    val nullHost = Seq(Tuple1[String](null)).toDF("url")
      .select(Dedup.hostOf($"url")).collect().head
    assert(nullHost.isNullAt(0), "NULL url must yield NULL host")
  }

  test("hostDupStats attributes corpus-wide exact dups per host") {
    val docs = Seq(
      (1L, "https://www.a.com/1", "shared text body one two three"),
      (2L, "http://a.com:80/2", "unique text on host a four five"),
      (3L, "https://b.com/3", "SHARED  text body one two THREE"), // dup of 1, other host
      (4L, "https://b.com/4", "")) // empty text: absent from the gate, kept=false
      .toDF("doc_id", "url", "text")
    val rows = Dedup.hostDupStats(docs).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a.com", "b.com"))
    val byHost = rows.map(r => r.getString(0) -> r).toMap
    assert(byHost("a.com").getAs[Long]("n_docs") === 2L)
    // doc 3 duplicates doc 1 ACROSS hosts: the dup lands on b.com (the
    // later doc_id), a.com keeps the canonical copy
    assert(byHost("a.com").getAs[Long]("n_dup") === 0L)
    assert(byHost("b.com").getAs[Long]("n_dup") === 1L)
    assert(byHost("b.com").getAs[Double]("dup_share") === 0.5)
    // toy texts are all gate-dropped (too short / unknown lang / empty),
    // but the rollup must still count every doc
    assert(rows.map(_.getAs[Long]("n_kept")).forall(_ === 0L))
  }

  test("hostBoilerplateRate: per-host fuzzy-block survival rollup") {
    val docs = Seq(
      // t.com serves a template: two docs one token apart (Hamming 1 at
      // width 8) — the later first-instance is fuzzy-dominated, so ALL of
      // doc 2's words count removed
      (1L, "https://www.t.com/a", "alpha bravo charlie delta echo foxtrot golf hotel"),
      (2L, "https://t.com/b",     "alpha bravo charlie delta echo foxtrot golf india"),
      // c.com serves unrelated clean content plus a NULL-text doc (no
      // blocks — counts in n_docs, contributes nothing else)
      (3L, "https://c.com/1", "one two three four five six seven eight"),
      (4L, "https://c.com/2", null))
      .toDF("doc_id", "url", "text")
    val rows = Dedup.hostBoilerplateRate(docs).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("c.com", "t.com"))
    val byHost = rows.map(r => r.getString(0) -> r).toMap
    val t = byHost("t.com")
    assert(t.getAs[Long]("n_docs") === 2L)
    assert(t.getAs[Long]("blocks_total") === 2L)
    assert(t.getAs[Long]("blocks_removed") === 1L)
    assert(t.getAs[Long]("words_total") === 16L)
    assert(t.getAs[Long]("words_removed") === 8L)
    assert(t.getAs[Double]("boilerplate_rate") === 0.5)
    val c = byHost("c.com")
    assert(c.getAs[Long]("n_docs") === 2L, "NULL-text doc still counts")
    assert(c.getAs[Long]("blocks_removed") === 0L)
    assert(c.getAs[Double]("boilerplate_rate") === 0.0)
    // a host with ONLY null-text docs reads a NULL rate, not 0/0
    val onlyNull = Seq((9L, "https://n.com/x", null: String))
      .toDF("doc_id", "url", "text")
    val nRow = Dedup.hostBoilerplateRate(onlyNull).collect().head
    assert(nRow.getAs[Long]("n_docs") === 1L && nRow.isNullAt(6),
      "no-blocks host must report NULL boilerplate_rate")
  }

  test("urlNormalize hits every canonicalization rule exactly") {
    val cases = Seq(
      // tracking params dropped, survivors sorted, fragment dropped
      ("https://a.com/p?utm_source=x&b=2&a=1#frag", "https://a.com/p?a=1&b=2"),
      ("https://a.com/p?gclid=1&fbclid=2&utm_campaign=c",  "https://a.com/p"),
      // authority lowercased, path case PRESERVED
      ("HTTPS://WWW.A.COM/CaseSensitive/Path", "https://a.com/CaseSensitive/Path"),
      // default ports dropped scheme-appropriately; explicit others kept
      ("https://a.com:443/p", "https://a.com/p"),
      ("http://a.com:80/p", "http://a.com/p"),
      ("http://a.com:8080/p", "http://a.com:8080/p"),
      ("https://a.com:80/p", "https://a.com:80/p"), // :80 is NOT https default
      // one trailing slash dropped; www label dropped; userinfo KEPT
      ("https://www.a.com/p/", "https://a.com/p"),
      ("https://u:pw@a.com/p", "https://u:pw@a.com/p"),
      // userinfo does not block the port/www rules (r18 ADVICE)
      ("https://u:pw@a.com:443/p", "https://u:pw@a.com/p"),
      ("http://u@www.a.com:80/p", "http://u@a.com/p"),
      ("https://u:pw@a.com:8080/p", "https://u:pw@a.com:8080/p"),
      // scheme-less: authority rules skip, query/fragment rules still act
      ("a.com/p/?b=2&a=1#f", "a.com/p?a=1&b=2"),
      // bare '?' (empty query) collapses
      ("https://a.com/p?", "https://a.com/p"))
    val out = cases.map(_._1).toDF("url")
      .select(Dedup.urlNormalize($"url").as("c")).as[String].collect().toSeq
    assert(out === cases.map(_._2))
    val nullUrl = Seq(Tuple1[String](null)).toDF("url")
      .select(Dedup.urlNormalize($"url")).collect().head
    assert(nullUrl.isNullAt(0), "NULL url must normalize to NULL")
  }

  test("urlDedup collapses variant URLs; NULL urls never collapse") {
    val docs = Seq(
      (1L, "https://www.a.com/x?utm_source=s&b=2&a=1"),
      (2L, "HTTPS://A.COM:443/x/?a=1&b=2#top"), // same canonical as 1
      (3L, "https://a.com/x?a=1&b=3"),          // different param VALUE
      (4L, null: String),
      (5L, null: String))                        // two unknowns stay apart
      .toDF("doc_id", "url")
    val out = Dedup.urlDedup(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(out(1L) === ((1L, false)) && out(2L) === ((1L, true)),
      "variant URLs must collapse to the smallest doc_id")
    assert(out(3L) === ((3L, false)))
    assert(out(4L) === ((4L, false)) && out(5L) === ((5L, false)),
      "NULL urls must each be their own canonical")
  }

  test("crawlBudget: proportional shares, zero-score hosts blocked") {
    val docs = Seq(
      // a.com: 2 docs, no dups — its share rides on its keep rate alone
      (1L, "https://a.com/1", "unique body one two three four"),
      (2L, "https://a.com/2", "unique body five six seven eight"),
      // b.com: pure mirror of a.com's doc 1 -> dup_share 1 -> score 0
      (3L, "https://b.com/1", "unique body one two three four"))
      .toDF("doc_id", "url", "text")
    val rows = Dedup.crawlBudget(Dedup.hostDupStats(docs)).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a.com", "b.com"))
    val byHost = rows.map(r => r.getString(0) -> r).toMap
    assert(byHost("b.com").getAs[Double]("score") === 0.0,
      "an all-dup host must score 0 (the block-list read)")
    assert(byHost("b.com").getAs[Double]("budget_share") === 0.0)
    // toy texts all fail the quality gate -> keep_rate 0 everywhere ->
    // total 0 -> every share 0, no divide-by-zero NaN
    assert(rows.forall(r => !r.getAs[Double]("budget_share").isNaN))
    // a re-run over a frame where scores are positive: force keeps by
    // checking shares sum to 1 over synthetic stats
    import org.apache.spark.sql.functions.lit
    val stats = Seq(("a.com", 10L, 0.2, 0.9), ("b.com", 5L, 0.5, 0.6))
      .toDF("host", "n_docs", "dup_share", "keep_rate")
      .withColumn("n_dup", lit(0L)).withColumn("n_kept", lit(0L))
    val shares = Dedup.crawlBudget(stats).collect()
      .map(r => r.getString(0) -> r.getAs[Double]("budget_share")).toMap
    val sa = 0.9 * 0.8; val sb = 0.6 * 0.5
    assert(math.abs(shares("a.com") - sa / (sa + sb)) < 1e-9)
    assert(math.abs(shares("a.com") + shares("b.com") - 1.0) < 1e-9)
  }

  test("crawlRetrySplit: dead host retries, copy farm cut, healthy host kept") {
    val good = "a genuinely long and wordy document with plenty of distinct " +
      "content words so the composite quality gate keeps it around here"
    val docs = Seq(
      // dead.com: every fetch failed -> err_share 1 -> retry (and the
      // carve-out guarantees dup_share 0: errors are not copies)
      (1L, "https://dead.com/a", null.asInstanceOf[String]),
      (2L, "https://dead.com/b", null.asInstanceOf[String]),
      // farm.com: 3 of 4 docs one constant page -> dup_share 0.5 -> cut
      (3L, "https://farm.com/a", "same template page"),
      (4L, "https://farm.com/b", "same template page"),
      (5L, "https://farm.com/c", "same template page"),
      (6L, "https://farm.com/d", good + " farm variant"),
      // live.com: distinct, gate-passing -> keep
      (7L, "https://live.com/a", good),
      (8L, "https://live.com/b", good + " another"))
      .toDF("doc_id", "url", "text")
    val rows = Dedup.crawlRetrySplit(docs).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("dead.com").getAs[String]("action") === "retry")
    assert(rows("dead.com").getAs[Double]("dup_share") === 0.0)
    assert(rows("dead.com").getAs[Long]("n_fetch_err") === 2L)
    assert(rows("farm.com").getAs[String]("action") === "cut")
    assert(rows("farm.com").getAs[Long]("n_dup") === 2L,
      "first template instance is canonical; the other two are dups")
    assert(rows("live.com").getAs[String]("action") === "keep")
    assert(rows("live.com").getAs[Double]("err_share") === 0.0)
    // the .5/.5 tie goes to retry (documented precedence): 1 err + 1 dup
    // of an OTHER host's text in a 2-doc host
    val tie = Seq(
      (9L, "https://z.com/a", "same template page"), // canonical holder
      (10L, "https://t.com/a", null.asInstanceOf[String]),
      (11L, "https://t.com/b", "same template page")) // dups z.com's 9
      .toDF("doc_id", "url", "text")
    val t = Dedup.crawlRetrySplit(tie).collect()
      .map(r => r.getString(0) -> r.getAs[String]("action")).toMap
    assert(t("t.com") === "retry")
  }

  test("source overlap: hand-computed pairwise containment and jaccard") {
    val docs = Seq(
      (0L, "A", "a b c d"),  // A shingles: {a b c, b c d}
      (1L, "A", "a b c"),    // duplicate shingle within a source counts once
      (2L, "B", "a b c x"),  // B shingles: {a b c, b c x}
      (3L, "C", "p q r"),    // C shares nothing -> no C rows at all
      (4L, "C", "z")         // shorter than n: contributes no shingles
    ).toDF("doc_id", "source", "text")
    val out = Dedup.sourceOverlap(docs, n = 3).collect()
    assert(out.length === 1, "only the (A,B) pair shares a shingle")
    val r = out.head
    assert(r.getString(0) === "A" && r.getString(1) === "B")
    assert((r.getLong(2), r.getLong(3), r.getLong(4)) === ((2L, 2L, 1L)))
    assert(r.getDouble(5) === 0.5 && r.getDouble(6) === 0.5)
    assert(r.getDouble(7) === 1.0 / 3.0)
  }

  test("source overlap index: append lifecycle serves the batch matrix, replay-safe") {
    val standing = Seq(
      (0L, "A", "a b c d"),
      (1L, "B", "a b c x")
    ).toDF("doc_id", "source", "text")
    val arrivals = Seq(
      (2L, "B", "b c d y"),   // adds {b c d, c d y} to B — b c d now shared with A
      (3L, "C", "a b c")      // a new source appearing only via append
    ).toDF("doc_id", "source", "text")
    val batch = Dedup.sourceOverlap(standing.union(arrivals))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    // bootstrap into a fresh empty directory, and into a deployment's own
    // managed path that does not exist yet: both are a new index
    val missing = s"${graft.sources.Scratch.dir("src_sh_managed")}/corpus/index"
    assert(!new java.io.File(missing).exists())
    Seq(graft.sources.Scratch.dir("src_sh_idx"), missing).foreach { dir =>
      Dedup.appendSourceShingleIndex(standing, dir)
      Dedup.appendSourceShingleIndex(arrivals, dir)
      // the arrival batch REDELIVERED whole (at-least-once): census unchanged —
      // duplicate (source, hash) rows are absorbed by the collect_set
      Dedup.appendSourceShingleIndex(arrivals, dir)
      val served = Dedup.sourceOverlapFromIndex(spark, dir)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
      assert(served.keySet === batch.keySet, s"served keys at $dir")
      for ((k, s) <- served; b = batch(k))
        assert(s.toSeq === b.toSeq, s"pair $k served != batch at $dir")
      // and the matrix itself is what the hand count says: A={a b c, b c d},
      // B={a b c, b c x, b c d, c d y}, C={a b c}
      val ab = served(("A", "B"))
      assert((ab.getLong(2), ab.getLong(3), ab.getLong(4)) === ((2L, 4L, 2L)))
      assert(ab.getDouble(5) === 1.0 && ab.getDouble(6) === 0.5)
      val ac = served(("A", "C"))
      assert((ac.getLong(2), ac.getLong(3), ac.getLong(4)) === ((2L, 1L, 1L)))
    }
  }

  test("block dedup: hand-computed segmentation, first-instance rule, stats") {
    val docs = Seq(
      (0L, "a b c d e f g"),     // blocks: "a b c" / "d e f" / "g" (tail, 1 word)
      (1L, "a b c x y z"),       // "a b c" dup of (0,0); "x y z" first here
      (2L, "x y z a b c"),       // both blocks dups of earlier instances
      (3L, "g g g"),             // "g g g" != the 1-word tail "g" of doc 0
      (4L, "p q r p q r")        // intra-doc repeat: second instance removed
    ).toDF("doc_id", "text")
    val out = Dedup.blockDedup(docs, blockWords = 3).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out(0L) === ((3L, 0L, 7L, 0L, 1.0)))
    assert(out(1L) === ((2L, 1L, 6L, 3L, 0.5)))
    assert(out(2L) === ((2L, 2L, 6L, 6L, 0.0)))
    assert(out(3L) === ((1L, 0L, 3L, 0L, 1.0)))
    assert(out(4L) === ((2L, 1L, 6L, 3L, 0.5)))
  }

  test("cdc chunking: exact dup fully removed, boundaries resync after an insertion") {
    val base = (1 to 50).map(i => s"w$i").mkString(" ") // distinct tokens: no intra-doc repeats
    val docs = Seq(
      (0L, base),
      (1L, base),          // exact duplicate: every chunk removed
      (2L, "zzz " + base)  // shifted by one token: CDC must resync
    ).toDF("doc_id", "text")
    val out = Dedup.cdcChunkDedup(docs).orderBy("doc_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))))
      .toMap
    assert(out(0L)._4 === 0L && out(0L)._5 === 1.0, "first instance keeps all")
    assert(out(0L)._3 === 50L && out(2L)._3 === 51L, "token conservation")
    assert(out(1L)._2 === out(1L)._1 && out(1L)._5 === 0.0,
      "exact duplicate: every chunk is a repeat instance")
    assert(out(2L)._4 > 0L,
      "content-defined boundaries must resynchronize past the inserted token")
    assert(out(2L)._4 < out(2L)._3, "the changed prefix must NOT dedup")
    // The same insertion defeats fixed blocks entirely (the motivation).
    val blocks = Dedup.blockDedup(docs.filter($"doc_id" =!= 1L))
      .filter($"doc_id" === 2L).collect().head
    assert(blocks.getLong(4) === 0L,
      "fixed 8-token blocks all shift: zero removed words for the shifted doc")
  }

  test("ngram Jaccard finds near-dups above threshold, nothing else") {
    val pairs = Dedup.ngramJaccard(corpus, n = 3, threshold = 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)))
    assert(pairs.contains((1L, 3L)), "near-dup (one word changed) must clear 0.5")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("incremental block dedup: screen = global rule; replayed appends harmless") {
    val dir = graft.sources.Scratch.dir("blkidx")
    val standing = Seq((0L, "a b c d e f")).toDF("doc_id", "text")
    val arrivals = Seq(
      (10L, "a b c x y z"),  // first block indexed, second new
      (11L, "x y z p q r"),  // first block dups (10, 1) WITHIN the batch
      (12L, "n o p")         // all fresh
    ).toDF("doc_id", "text")
    Dedup.appendBlockIndex(standing, dir, blockWords = 3)
    val screened = Dedup.incrementalBlockDedup(spark, dir, arrivals, blockWords = 3)
      .orderBy("doc_id").collect().map(_.toString)
    val global = Dedup.blockDedup(standing.unionByName(arrivals), blockWords = 3)
      .filter($"doc_id" >= 10L).orderBy("doc_id").collect().map(_.toString)
    assert(screened.toSeq === global.toSeq,
      "monotone-id identity: screen must equal the corpus-wide rule on arrivals")
    // At-least-once redelivery: the same batch appended TWICE must not
    // change what a later batch sees (semi-join probe is idempotent).
    Dedup.appendBlockIndex(arrivals, dir, blockWords = 3)
    Dedup.appendBlockIndex(arrivals, dir, blockWords = 3)
    val later = Seq((20L, "x y z w w w")).toDF("doc_id", "text")
    val out = Dedup.incrementalBlockDedup(spark, dir, later, blockWords = 3)
      .collect().head
    assert(out.getLong(1) === 2L && out.getLong(2) === 1L,
      "exactly the replayed-indexed block removed — once, not twice")
    assert(out.getLong(4) === 3L && out.getDouble(5) === 0.5)
  }

  test("containment join: directional subset found, threshold boundary exact") {
    val long = (1 to 20).map(i => s"w$i").mkString(" ")        // 18 shingles
    val quoted = (5 to 10).map(i => s"w$i").mkString(" ")      // 4 shingles, all in doc 1
    val boundary = quoted + " f1"                              // 5 shingles, 4 shared: C = 0.8
    val docs = Seq(
      (1L, long), (2L, quoted), (3L, boundary),
      (4L, "totally unrelated words about nothing shared at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentJoin(docs).orderBy("d_sub", "d_super").collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.contains((2L, 1L)) && out((2L, 1L)) === ((4L, 4L, 1.0)),
      "full quote: containment exactly 1.0 toward the long doc")
    assert(out((3L, 1L)) === ((5L, 4L, 0.8)),
      "4/5 boundary pair must be INCLUDED (>= is exact: 4.0/5.0 == 0.8)")
    assert(out.contains((2L, 3L)) && out((2L, 3L))._3 === 1.0,
      "the quote is also fully inside the boundary doc")
    assert(!out.keys.exists { case (a, b) => a == 1L || a == 4L || b == 4L },
      "no reverse direction from the long doc (4/18 < t), nothing from doc 4")
    // Asymmetry vs Jaccard: the quote–longdoc pair is invisible to the
    // symmetric join (J(1,2) = 4/18), though 2–3 qualifies both ways.
    val j = Dedup.ngramJaccard(docs).select("d1", "d2")
      .as[(Long, Long)].collect().toSet
    assert(!j.contains((1L, 2L)) && !j.contains((1L, 3L)),
      "the symmetric join must NOT find the quote inside the long doc")
    assert(j.contains((2L, 3L)), "near-identical short docs qualify both ways")
  }

  test("prefix filtering is lossless: minhash LSH and exact join agree on testdata") {
    val exact = Dedup.ngramJaccard(graft.sources.Tables.documents(spark, sf))
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.minhashLsh(graft.sources.Tables.documents(spark, sf))
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(exact === lsh)
    assert(exact.nonEmpty, "testdata should contain planted near-dup pairs")
  }

  test("dup-heavy corpus: ngram and minhash agree and find every twin") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val dupHeavy = docs.unionByName(
      docs.withColumn("doc_id", $"doc_id" + 1000000L))
    val ngram = Dedup.ngramJaccard(dupHeavy)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val mh = Dedup.minhashLsh(dupHeavy)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    // the hub-heavy regime a dedup job actually meets: identical pair sets
    // from the lossless-prefix join and the LSH path, and no twin missed
    assert(ngram === mh)
    val ids = docs.select($"doc_id").as[Long].collect()
    assert(ids.forall(i => ngram.contains((i, i + 1000000L))))
  }

  test("identical texts have identical simhash; hamming to near-dup is small") {
    val sims = corpus.select($"doc_id", Dedup.simhash(TextAnalysis.tokens($"text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sims(1L) === sims(5L))
    val hamming13 = java.lang.Long.bitCount(sims(1L) ^ sims(3L))
    val hamming14 = java.lang.Long.bitCount(sims(1L) ^ sims(4L))
    assert(hamming13 < hamming14, "near-dup must be closer than unrelated doc")
  }

  test("simhashDup returns exactly the duplicate pairs at hamming 0") {
    val pairs = Dedup.simhashDup(corpus, maxHamming = 0)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L), (1L, 5L), (2L, 5L)))
  }

  test("clusters: components over pair sets, including long chains") {
    // two small components, plus a 9-node path (1 pair-step per hop) that
    // needs transitive closure — exercises the pointer-jumping convergence
    val chain = (30L until 38L).map(i => (i, i + 1))
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L)) ++ chain).toDF("d1", "d2")
    val got = Dedup.clusters(pairs)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSet
    val expected =
      Seq(1L, 2L, 3L).map(d => (d, 1L, 3L)).toSet ++
        Seq(10L, 11L).map(d => (d, 10L, 2L)) ++
        (30L to 38L).map(d => (d, 30L, 9L))
    assert(got === expected)
  }

  test("clusters on an empty pair set returns an empty frame (clean corpus is legal)") {
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    val out = Dedup.clusters(empty)
    assert(out.columns.toSeq === Seq("doc_id", "cluster_id", "cluster_size"))
    assert(out.count() === 0L)
  }

  test("clusters keeps checkpoint storage bounded across fixpoint rounds") {
    // the 9-hop chain needs several pointer-jumping rounds; each round's
    // eager localCheckpoint must release its predecessor or a long-running
    // dedup pins rounds × label-table storage on the executors
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (50L until 80L).map(i => (i, i + 1)).toDF("d1", "d2")
    Dedup.clusters(chain).count()
    val after = spark.sparkContext.getPersistentRDDs.size
    // at most the final round's labels plus the LRU-bounded pair table
    // (InternalCaches) may remain pinned — the ~4 pointer-jumping rounds
    // this chain needs would each add one if rounds leaked
    assert(after - before <= 2,
      s"clusters leaked checkpointed rounds: $before persistent RDDs before, $after after")
  }

  test("clusters on the twinned corpus: every twin pair is its own cluster of 2") {
    val docs = graft.sources.Tables.documents(spark, sf)
      .select($"doc_id", $"text").filter($"doc_id" < 200)
    val twinned = docs.unionByName(
      docs.select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    val clustered = Dedup.clusters(Dedup.minhashLsh(twinned))
    // every doc pairs with its twin; identical texts always share a cluster
    val byDoc = clustered.select("doc_id", "cluster_id")
      .as[(Long, Long)].collect().toMap
    docs.select("doc_id").as[Long].collect().foreach { d =>
      assert(byDoc.get(d).isDefined && byDoc(d) === byDoc(d + 1000000L),
        s"doc $d and its twin landed in different clusters")
    }
  }

  test("incremental minhash vs the persisted index equals the batch run on arrival pairs") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 400)
    val arrivals = docs.filter($"doc_id" >= 400)
    val dir = graft.sources.Scratch.dir("graft_sig_spec")
    Dedup.appendSignatureIndex(standing, dir)
    val inc = Dedup.incrementalMinhash(spark, dir, standing, arrivals)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLsh(docs)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    // exactly the full-corpus pairs that involve an arrival — no more
    // (no stale old–old rediscovery), no fewer (nothing missed by probing
    // the index instead of re-banding the corpus)
    val expected = full.filter(p => p._1 >= 400 || p._2 >= 400)
    assert(inc === expected)
    assert(inc.nonEmpty, "testdata should plant near-dups crossing the split")
  }

  test("spanContainment: a prefix-contained doc covers 1.0 one way, less the other") {
    // doc 1's token run is a strict PREFIX of doc 2's, so every winnowing
    // window of doc 1 is also a window of doc 2 — fp(1) ⊆ fp(2) exactly,
    // the quote/excerpt shape the asymmetric score exists to expose
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta unrelated tail " +
        "words continue here onwards with more and more filler content"),
      (3L, "completely different text sharing nothing with the others at all")
    ).toDF("doc_id", "text")
    val out = Dedup.spanContainment(docs, minShared = 1)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(out.length === 1, s"only the (1,2) pair should surface: ${out.toSeq}")
    val (d1, d2, shared, nFp1, nFp2, cover1, cover2) = out.head
    assert((d1, d2) === ((1L, 2L)))
    assert(shared === nFp1, "a prefix-contained doc shares ALL its fingerprints")
    assert(cover1 === 1.0)
    assert(nFp2 > nFp1 && cover2 < 1.0,
      "the superset doc must have extra fingerprints of its own")
  }

  test("exactSubstrSpans: span-level removal, keep-first, overlaps merged") {
    // docs 1 < 2 < 3 share the 8-token run "c d e f g h i j"; doc 2 also
    // shares a second, OVERLAPPING run with doc 3 only — the merge must
    // emit ONE span for doc 3 covering the union
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x y c d e f g h i j k l m n o p"),
      (3L, "q r c d e f g h i j k l m n s t"),
      (4L, "completely unrelated text with no shared runs at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrSpans(docs, minLen = 8)
      .orderBy($"doc_id", $"start_tok")
      .as[(Long, Long, Long)].collect().toSeq
    // doc 1 (smallest id) KEEPS its occurrence — no removal span
    assert(!out.exists(_._1 == 1L))
    // doc 2 removes c..j (8 tokens from position 3) — matched from doc 1;
    // its longer overlap with doc 3 (c..n, 12 tokens) does NOT land on
    // doc 2 because 2 < 3 (keep-first: doc 3 is the remover)
    assert(out.filter(_._1 == 2L) === Seq((2L, 3L, 8L)))
    // doc 3: the doc-1 match (c..j = 8) and the doc-2 match (c..n = 12)
    // overlap — merged to ONE span of 12 tokens at position 3
    assert(out.filter(_._1 == 3L) === Seq((3L, 3L, 12L)))
    assert(!out.exists(_._1 == 4L))
  }

  test("exactSubstrSpans: disjoint runs stay separate spans; sub-minLen runs drop") {
    val docs = Seq(
      (1L, "s1a s1b s1c s1d s1e s1f s1g s1h gap1 gap2 gap3 s2a s2b s2c s2d s2e s2f s2g s2h"),
      // shares run1 (8 toks, from pos 1) and run2 (8 toks) with doc 1,
      // separated by DIFFERENT gap tokens — two disjoint removal spans
      (2L, "s1a s1b s1c s1d s1e s1f s1g s1h other1 other2 s2a s2b s2c s2d s2e s2f s2g s2h"),
      // shares only a 7-token run (< minLen=8) — no span emitted
      (3L, "s1a s1b s1c s1d s1e s1f s1g tail1 tail2 tail3 tail4 tail5 tail6 tail7 tail8")
    ).toDF("doc_id", "text")
    val out = Dedup.exactSubstrSpans(docs, minLen = 8)
      .orderBy($"doc_id", $"start_tok")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((2L, 1L, 8L), (2L, 11L, 8L)),
      s"expected doc 2's two disjoint 8-token spans, got $out")
  }

  test("incremental span screen: two absorb cycles equal the batch spans for arrivals") {
    // standing corpus (smaller ids) + two arrival batches with monotone
    // ids: concatenated per-batch screen output must equal the batch
    // exactSubstrSpans over EVERYTHING, restricted to arrival doc_ids.
    // maxDf is raised so no probed fingerprint straddles the cap between
    // cycles (the df universe grows as batches absorb — documented).
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 300)
    val b1 = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val idx = graft.sources.Scratch.dir("graft_fpidx")
    Dedup.appendFingerprintIndex(standing, idx)
    val s1 = Dedup.incrementalSpanScreen(spark, idx, standing, b1, maxDf = 64)
      .as[(Long, Long, Long)].collect().toSet
    Dedup.appendFingerprintIndex(b1, idx)
    val s2 = Dedup.incrementalSpanScreen(spark, idx,
        standing.unionByName(b1), b2, maxDf = 64)
      .as[(Long, Long, Long)].collect().toSet
    val batch = Dedup.exactSubstrSpans(docs, maxDf = 64)
      .filter($"doc_id" >= 300)
      .as[(Long, Long, Long)].collect().toSet
    assert((s1 ++ s2) === batch,
      s"incremental spans must equal batch-restricted: extra=${(s1 ++ s2) -- batch} missing=${batch -- (s1 ++ s2)}")
    assert(s1.nonEmpty && s2.nonEmpty,
      "testdata should plant cross-batch shared spans")
    // batch-1 spans never reference batch-2 docs (they hadn't arrived)
    assert(s1.forall(_._1 < 400))
  }

  test("incremental span screen: keep-standing — a low-id arrival still gets the span") {
    // the arrival's id is SMALLER than the standing doc's: batch keep-first
    // would put the removal on the standing doc, but the screen's contract
    // is keep-standing (the corpus is immutable) — the span must land on
    // the arrival
    val standing = Seq(
      (10L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val arrival = Seq(
      (1L, "x y c d e f g h i j z")).toDF("doc_id", "text")
    val idx = graft.sources.Scratch.dir("graft_fpidx2")
    Dedup.appendFingerprintIndex(standing, idx)
    val out = Dedup.incrementalSpanScreen(spark, idx, standing, arrival)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 3L, 8L)),
      s"the shared c..j run must be removed from the ARRIVAL, got $out")
  }

  test("incremental span screen: replayed index rows cannot synthesize self-pair spans") {
    // the absorb append is at-least-once: a foreachBatch retry after
    // appendFingerprintIndex landed re-runs the screen with the ARRIVAL'S
    // OWN rows already in the index. A doc-list with the arrival twice
    // would pair (a, a), whose positional verification matches every gram
    // against itself on diag 0 — a removal span covering the WHOLE doc —
    // and duplicate rows would inflate the df cap past maxDf, dropping
    // real candidates. The collect_set probe makes the replay inert.
    val standing = Seq(
      (10L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val arrival = Seq(
      (20L, "x y c d e f g h i j z")).toDF("doc_id", "text")
    val idx = graft.sources.Scratch.dir("graft_fpidx3")
    Dedup.appendFingerprintIndex(standing, idx)
    val clean = Dedup.incrementalSpanScreen(spark, idx, standing, arrival)
      .as[(Long, Long, Long)].collect().toSet
    assert(clean === Set((20L, 3L, 8L)), s"got $clean")
    // retry after the absorb landed: the index carries the arrival once
    Dedup.appendFingerprintIndex(arrival, idx)
    val r1 = Dedup.incrementalSpanScreen(spark, idx, standing, arrival)
      .as[(Long, Long, Long)].collect().toSet
    assert(r1 === clean, s"one replayed append changed the spans: $r1")
    // a retry of the append itself: the index carries the arrival TWICE
    Dedup.appendFingerprintIndex(arrival, idx)
    val r2 = Dedup.incrementalSpanScreen(spark, idx, standing, arrival)
      .as[(Long, Long, Long)].collect().toSet
    assert(r2 === clean, s"double-appended index rows changed the spans: $r2")
    assert(!r2.exists(_._3 >= 11L),
      "a self-pair would have removed the entire arrival document")
  }

  test("boilerplateSpans: hot-gram covers merge; rare grams and cold docs emit nothing") {
    // "h1..h6" (two overlapping hot 5-grams) appears in docs 1, 2 and 3 →
    // df = 3 > minDf = 2 → every carrier gets the merged 6-token span;
    // "r1..r5" appears in docs 1 and 2 only (df = 2, NOT hot); doc 4 has
    // no hot grams at all
    val docs = Seq(
      (1L, "a b h1 h2 h3 h4 h5 h6 c r1 r2 r3 r4 r5 d"),
      (2L, "h1 h2 h3 h4 h5 h6 x y r1 r2 r3 r4 r5"),
      (3L, "p q r h1 h2 h3 h4 h5 h6"),
      (4L, "nothing shared with anything else in this corpus at all here")
    ).toDF("doc_id", "text")
    val out = Dedup.boilerplateSpans(docs, minDf = 2)
      .orderBy($"doc_id", $"start_tok")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out === Seq((1L, 3L, 6L), (2L, 1L, 6L), (3L, 4L, 6L)),
      s"each carrier doc should get exactly the merged h1..h6 span, got $out")
  }

  test("removalStats: overlapping ExactSubstr and boilerplate removals count once") {
    // the 8-token run "a..h" is shared by docs 1-3: ExactSubstr removes it
    // from docs 2 and 3 (keep-first) AND its grams are hot (df=3 > 2) so
    // the boilerplate gate covers it in ALL three docs — per doc the two
    // families' spans coincide and must merge, never sum
    val docs = Seq(
      (1L, "a b c d e f g h t1 t2", "s"),
      (2L, "x a b c d e f g h u1", "s"),
      (3L, "y z a b c d e f g h", "s"),
      (4L, "nothing shared here at all in this document okay", "s")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.removalStats(docs, minDf = 2)
      .as[(String, Long, Long, Long, Double)].collect().toSeq
    // removed: 8 tokens in each of docs 1, 2, 3 (merged, not 16); doc 4
    // contributes none; totals 10+10+10+9 = 39 tokens
    assert(out === Seq(("s", 4L, 39L, 24L, 24.0 / 39)),
      s"got $out")
  }

  test("intraDocRepeats: later occurrences of repeated runs become removal spans") {
    val docs = Seq(
      // "r1..r8" appears twice; the LATER copy (pos 12) is the removal span
      (1L, "a b c r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8 tail"),
      // a generation loop: period-4 phrase repeated 4x — everything after
      // the first period is one merged removal span (self-overlapping
      // diagonals must still merge to a single interval)
      (2L, "p1 p2 p3 p4 p1 p2 p3 p4 p1 p2 p3 p4 p1 p2 p3 p4"),
      (3L, "no repeats in this document at all just distinct words")
    ).toDF("doc_id", "text")
    val out = Dedup.intraDocRepeats(docs, minLen = 8)
      .orderBy($"doc_id", $"start_tok")
      .as[(Long, Long, Long)].collect().toSeq
    assert(out.filter(_._1 == 1L) === Seq((1L, 12L, 8L)),
      s"doc 1's second copy should be the span, got $out")
    // doc 2: diag-4 matches run p1=1..9 (grams up to pos 12 match pos
    // 16-wide text), span covers positions 5..16 = 12 tokens
    assert(out.filter(_._1 == 2L) === Seq((2L, 5L, 12L)),
      s"loop removal should keep exactly the first period, got $out")
    assert(!out.exists(_._1 == 3L))
  }

  test("streaming dedup screen: per-batch probe+absorb, concatenated pairs equal the batch run") {
    // the dedup screen through the real streaming wiring: two arrival files,
    // one micro-batch each — batch 0's docs must be corpus by the time
    // batch 1 probes (the absorb step), so the concatenated emitted pairs
    // equal the batch minhashLsh over EVERYTHING minus the bootstrap
    // corpus's internal pairs
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 300)
    val b1 = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val idx = graft.sources.Scratch.dir("graft_ds_idx")
    val corpus = graft.sources.Scratch.dir("graft_ds_corp")
    val pairs = graft.sources.Scratch.dir("graft_ds_pairs")
    Dedup.appendSignatureIndex(standing, idx)
    standing.write.mode("overwrite").parquet(corpus)
    val srcDir = graft.sources.Scratch.path("graft_ds_src")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_ds_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val ckpt = graft.sources.Scratch.dir("graft_ds_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
      ckpt)(graft.streaming.IndexMaintenance.dedupScreenBatch(
        spark, idx, corpus, pairs))
    q.awaitTermination()
    val got = spark.read.parquet(pairs)
    assert(got.select($"batch_id").distinct().count() === 2)
    val gotPairs = got.select("d1", "d2").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLsh(docs)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val bootstrap = Dedup.minhashLsh(standing)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(gotPairs === (full -- bootstrap))
    assert(gotPairs.nonEmpty, "testdata should plant near-dups across batches")
    // a pair is emitted in the batch its NEWEST doc arrived in: batch 0
    // pairs never involve a batch-1 doc
    val early = got.filter($"batch_id" === 0)
      .select("d1", "d2").as[(Long, Long)].collect()
    assert(early.forall(p => p._1 < 400 && p._2 < 400))
    // both stores absorbed both batches
    assert(spark.read.parquet(corpus).count() === docs.count())
    assert(spark.read.parquet(idx).select($"doc_id").distinct().count()
      === docs.count())
  }

  test("streaming span screen: per-batch probe+absorb spans equal the batch run") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 300)
    val b1 = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val idx = graft.sources.Scratch.dir("graft_ss_idx")
    val corpus = graft.sources.Scratch.dir("graft_ss_corp")
    val spans = graft.sources.Scratch.dir("graft_ss_spans")
    Dedup.appendFingerprintIndex(standing, idx)
    standing.write.mode("overwrite").parquet(corpus)
    val srcDir = graft.sources.Scratch.path("graft_ss_src")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_ss_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val ckpt = graft.sources.Scratch.dir("graft_ss_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
      ckpt)(graft.streaming.IndexMaintenance.spanScreenBatch(
        spark, idx, corpus, spans, maxDf = 64))
    q.awaitTermination()
    val got = spark.read.parquet(spans)
    assert(got.select($"batch_id").distinct().count() === 2)
    val gotSpans = got.select($"doc_id", $"start_tok", $"len_tok")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Dedup.exactSubstrSpans(docs, maxDf = 64)
      .filter($"doc_id" >= 300)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotSpans === batch)
    assert(gotSpans.nonEmpty, "testdata should plant cross-batch spans")
    // a span is emitted in the batch its doc arrived in
    assert(got.filter($"batch_id" === 0).select($"doc_id").as[Long]
      .collect().forall(_ < 400))
    // both stores absorbed both batches
    assert(spark.read.parquet(corpus).count() === docs.count())
    assert(spark.read.parquet(idx).select($"doc_id").distinct().count()
      === docs.count())
  }

  test("incremental containment screen: planted quote caught, index hash-only, replay inert") {
    val standing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "totally unrelated words about completely different things entirely here now")
    ).toDF("doc_id", "text")
    val arrivals = Seq(
      // doc 10 is a verbatim excerpt of doc 1 (8 of its 10 words) ->
      // tiny Jaccard vs doc 1 but containment 1.0: the directional case
      (10L, "beta gamma delta epsilon zeta eta theta iota"),
      (11L, "fresh material sharing nothing with the standing corpus at all"),
      (12L, "ab")  // shorter than n=3 words: no shingles, absent
    ).toDF("doc_id", "text")
    val dir = graft.sources.Scratch.dir("graft_cont_toy")
    Dedup.appendContainmentIndex(standing, dir)
    val out = Dedup.incrementalContainmentScreen(spark, dir, arrivals)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // doc 10: 6 distinct 3-gram shingles, all inside doc 1's set
    assert(out === Set((10L, 1L, 6L, 6L, 1.0)))
    // the index never stores text — hash/count columns only
    for (sub <- Seq("shingles", "sizes", "df")) {
      val cols = spark.read.parquet(s"$dir/$sub").schema.fields.map(_.dataType).toSet
      assert(cols === Set(org.apache.spark.sql.types.LongType), s"$sub carries non-long columns")
    }
    // an engine-retry replay of an absorb (double append) must not change
    // the screen: sizes read via max, probe rows distinct, df order-only
    Dedup.appendContainmentIndex(standing, dir)
    val replayed = Dedup.incrementalContainmentScreen(spark, dir, arrivals)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(replayed === out, "double-appended index changed the screen")
  }

  test("streaming containment screen: probe+absorb pairs equal the batch join on later-sub pairs") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 300)
    val b1 = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val idx = graft.sources.Scratch.dir("graft_cs_idx")
    val pairsDir = graft.sources.Scratch.dir("graft_cs_pairs")
    Dedup.appendContainmentIndex(standing, idx)
    val srcDir = graft.sources.Scratch.path("graft_cs_src")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_cs_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val ckpt = graft.sources.Scratch.dir("graft_cs_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
      ckpt)(graft.streaming.IndexMaintenance.containmentScreenBatch(
        spark, idx, pairsDir))
    q.awaitTermination()
    val got = spark.read.parquet(pairsDir)
    assert(got.select($"batch_id").distinct().count() === 2)
    val gotPairs = got.select($"d_sub", $"d_super", $"n_sub", $"inter", $"containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // the documented identity: batch containmentJoin over everything,
    // restricted to pairs whose sub arrived strictly after its super
    def arrBatch(id: Long) = if (id < 300) 0 else if (id < 400) 1 else 2
    val expected = Dedup.containmentJoin(docs)
      .as[(Long, Long, Long, Long, Double)].collect()
      .filter(r => arrBatch(r._1) > arrBatch(r._2)).toSet
    assert(gotPairs === expected)
    assert(gotPairs.nonEmpty, "testdata should plant cross-batch containment")
    // a pair is emitted in the batch its SUB side arrived in
    assert(got.filter($"batch_id" === 0).select($"d_sub").as[Long]
      .collect().forall(id => id >= 300 && id < 400))
    // both batches absorbed: the index's size table covers every doc
    assert(spark.read.parquet(s"$idx/sizes").select($"doc_id").distinct().count()
      === Dedup.shingleRows(docs, 3).select($"doc_id").distinct().count())
  }

  test("streaming gram-df maintenance: summed partials equal batch df; table probe equals batch gate") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val b1 = docs.filter($"doc_id" < 300)
    val b2 = docs.filter($"doc_id" >= 300)
    val dfDir = graft.sources.Scratch.dir("graft_gdf")
    val srcDir = graft.sources.Scratch.path("graft_gdf_src")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_gdf_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val ckpt = graft.sources.Scratch.dir("graft_gdf_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
      ckpt)((b, id) => graft.streaming.StateSink.appendIdempotent(
        Dedup.gramDf(b), id, dfDir))
    q.awaitTermination()
    val table = spark.read.parquet(dfDir)
    assert(table.select($"batch_id").distinct().count() === 2)
    val summed = table.groupBy($"gh").agg(sum($"df").as("df"))
      .as[(Long, Long)].collect().toMap
    val batchDf = Dedup.gramDf(docs).as[(Long, Long)].collect().toMap
    assert(summed === batchDf,
      "per-batch partials must sum to the corpus gram-df")
    // the probe read path equals the batch gate at the same threshold
    val fromTable = Dedup.boilerplateSpansFromTable(spark, dfDir, docs, minDf = 2)
      .as[(Long, Long, Long)].collect().toSet
    val direct = Dedup.boilerplateSpans(docs, minDf = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(fromTable === direct)
    assert(fromTable.nonEmpty, "testdata should have df>2 grams")
  }

  test("duplicate doc_ids: each row grams alone, under any partitioning") {
    // two rows share doc_id 7; both start at token 0 and repeat a bigram,
    // so a doc_id window ordered by position would interleave their tokens
    val a = (7L, "the cat sat on the mat the cat sat", "tgt")
    val b = (7L, "a dog ran to the cat sat by the park", "raw")
    def frame(rows: (Long, String, String)*) = rows.toDF("doc_id", "text", "source")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val isTgt = col("source") === "tgt"
    val sites: Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)] = Seq(
      "shingleRows" -> (Dedup.shingleRows(_, 3)),
      "posGramRows" -> (Dedup.posGramRows(_, 3, xxhash64(_))),
      "countPartials" -> (graft.ops.Dsir.countPartials(_, isTgt)))
    sites.foreach { case (name, f) =>
      val union = f(frame(a)).unionByName(f(frame(b)))
      // count partials are additive: the union of the rows' partials sums
      val want = rows(if (name != "countPartials") union
        else union.groupBy($"fh").agg(sum($"n_t").as("n_t"), sum($"n_r").as("n_r")))
      Seq(1, 4).foreach { p =>
        assert(rows(f(frame(a, b).repartition(p))) === want, s"$name, $p partitions")
      }
    }
  }

  test("decontaminate flags only docs sharing an 8-gram with the benchmark") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val train = Seq(
      // copies an 8-word run from the benchmark doc -> contaminated
      (1L, "intro words then alpha beta gamma delta epsilon zeta eta theta and more"),
      // shares only a 7-word run -> clean at n=8
      (2L, "alpha beta gamma delta epsilon zeta eta outro"),
      (3L, "completely unrelated text with no overlap at all whatsoever here"),
      (4L, "short doc")  // fewer than 8 words: no shingles, reported clean
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(train, bench, n = 8)
      .select("doc_id", "n_contaminated_ngrams", "contaminated")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(out.map(r => r._1 -> r._3).toMap ===
      Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
    // doc 1's copied run is exactly 8 words ending before 'and', so exactly
    // ONE of its 8-gram windows (the run itself) appears in the benchmark
    assert(out.find(_._1 == 1L).get._2 === 1L)
  }

  test("contaminationScore grades overlap as a fraction of distinct 8-grams") {
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val train = Seq(
      // 13 words -> 6 distinct 8-grams, exactly one of which is benchmark
      (1L, "intro words then alpha beta gamma delta epsilon zeta eta theta and more"),
      // 8 words, 7-word overlap only -> one shingle, zero hits
      (2L, "alpha beta gamma delta epsilon zeta eta outro"),
      (4L, "short doc") // no shingles: zero counts, score 0.0 (not NULL/NaN)
    ).toDF("doc_id", "text")
    val out = Dedup.contaminationScore(train, bench, n = 8)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(out === List(
      (1L, 6L, 1L, 1.0 / 6),
      (2L, 1L, 0L, 0.0),
      (4L, 0L, 0L, 0.0)))
  }

  test("spanDedup pairs docs on shared fingerprints; the df cap drops boilerplate") {
    val pairs = Dedup.spanDedup(corpus, minShared = 2)
      .select("d1", "d2", "n_shared").as[(Long, Long, Long)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    // the three identical docs pair up with identical shared counts
    assert(byPair.contains((1L, 2L)) && byPair.contains((1L, 5L)) && byPair.contains((2L, 5L)))
    assert(byPair((1L, 2L)) === byPair((1L, 5L)) && byPair((1L, 5L)) === byPair((2L, 5L)))
    // the unrelated doc shares no spans with anything
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // stop-fingerprint cut: at maxDf=1 every shared fingerprint (df >= 2 by
    // definition of being shared) is dropped, so no pairs survive
    assert(Dedup.spanDedup(corpus, minShared = 1, maxDf = 1).isEmpty)
  }

  test("keepBest over a persisted cluster table equals the composed pipeline") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val composed = Dedup.keepBest(Dedup.clusters(Dedup.minhashLsh(docs)), docs)
      .collect().map(_.toString).sorted.toSeq
    val dir = graft.sources.Scratch.dir("graft_clusters_spec")
    Dedup.writeClusterTable(docs, dir)
    val probed = Dedup.keepBest(spark.read.parquet(dir), docs)
      .collect().map(_.toString).sorted.toSeq
    assert(probed === composed)
    assert(composed.nonEmpty, "testdata corpus must contain dup clusters")
    // the probe's corpus scan is member-pruned BEFORE tokenization: the
    // plan tokenizes after a semi/filtered join, never the raw corpus scan
    val plan = Dedup.keepBest(spark.read.parquet(dir), docs)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("LeftSemi") || plan.contains("left_semi"),
      s"member prune missing from plan:\n$plan")
  }

  test("evalPairs: counts, precision and recall over truth vs candidate pair sets") {
    import spark.implicits._
    val truth = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("d1", "d2")
    val cand  = Seq((1L, 2L), (3L, 4L), (7L, 8L), (9L, 10L)).toDF("d1", "d2")
    val row = Dedup.evalPairs(truth, cand)
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()
    assert(row._1 === 3L && row._2 === 4L && row._3 === 2L)
    assert(row._4 === Some(0.5))       // 2 of 4 candidates are real
    assert(row._5 === Some(2.0 / 3))   // 2 of 3 true pairs found
    // an empty candidate set yields zero counts and NULL precision, not a crash
    val empty = Dedup.evalPairs(truth, cand.filter($"d1" < 0))
      .as[(Long, Long, Long, Option[Double], Option[Double])].head()
    assert(empty._1 === 3L && empty._2 === 0L && empty._3 === 0L)
    assert(empty._4.isEmpty && empty._5 === Some(0.0))
  }

  test("split_leakage classifies every near-dup pair, leak flag consistent") {
    val rows = SparkEntry.queries("split_leakage")(spark, sf).collect()
    val nPairs = graft.ops.Dedup
      .minhashLsh(graft.sources.Tables.documents(spark, sf)).count()
    // every LSH pair lands in exactly one (split_a, split_b) class
    assert(rows.map(_.getAs[Long]("n_pairs")).sum === nPairs && nPairs > 0)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("is_leak") ===
        (r.getAs[String]("split_a") != r.getAs[String]("split_b")))
      assert(r.getAs[String]("split_a") <= r.getAs[String]("split_b"),
        "pair classes must be least/greatest normalized")
    }
  }

  test("incremental ngram novelty equals the batch rule on arrivals; double-append is inert") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 300)
    val b1 = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val dir = graft.sources.Scratch.dir("graft_nov_spec")
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet

    // monotone-id identity: the screen over batch 1 equals the corpus-wide
    // first-occurrence rule restricted to batch 1 (novelty doubles are the
    // same identical-operand division in both paths — exact equality)
    Dedup.appendNoveltyIndex(standing, dir)
    assert(rows(Dedup.incrementalNgramNovelty(spark, dir, b1)) ===
      rows(Dedup.ngramNovelty(standing.union(b1))
        .filter($"doc_id" >= 300 && $"doc_id" < 400)))

    // absorb batch 1 TWICE (at-least-once redelivery, the worst case):
    // the semi-join probe makes duplicate index rows inert, so batch 2's
    // screen still equals the corpus-wide rule restricted to batch 2
    Dedup.appendNoveltyIndex(b1, dir)
    Dedup.appendNoveltyIndex(b1, dir)
    assert(rows(Dedup.incrementalNgramNovelty(spark, dir, b2)) ===
      rows(Dedup.ngramNovelty(docs).filter($"doc_id" >= 400)))
  }

  test("novelty by source: hand-computed rollup, identical-operand rate, gramless source NULL-guarded") {
    val docs = Seq(
      (0L, "A", "a b c"),   // 2-grams {a b, b c}: both first here -> 2/2
      (1L, "A", "a b d"),   // {a b, b d}: "a b" seen in doc 0 -> 1/2
      (2L, "B", "a b c"),   // both grams seen -> 0/2
      (3L, "B", "x"),       // < n words: 0 grams, still counted as a doc
      (4L, "C", "y")        // source with NO grams at all -> NULL rate
    ).toDF("doc_id", "source", "text")
    val out = Dedup.noveltyBySource(docs, n = 2).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("A", "B", "C"))
    val bySrc = out.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(bySrc("A") === ((2L, 4L, 3L)))
    assert(bySrc("B") === ((2L, 2L, 0L)))
    assert(bySrc("C") === ((1L, 0L, 0L)))
    val rates = out.map(r => r.getString(0) ->
      (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(rates("A") === Some(0.75))
    assert(rates("B") === Some(0.0))
    assert(rates("C") === None, "a gramless source must report NULL, not a fake 0")
  }

  test("streaming novelty screen: concatenated rows equal the batch rule on arrivals") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 300)
    val b1 = docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
    val b2 = docs.filter($"doc_id" >= 400)
    val idx = graft.sources.Scratch.dir("graft_novs_idx")
    val novDir = graft.sources.Scratch.dir("graft_novs_out")
    Dedup.appendNoveltyIndex(standing, idx)
    val srcDir = graft.sources.Scratch.path("graft_novs_src")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_novs_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val ckpt = graft.sources.Scratch.dir("graft_novs_ck")
    graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
      ckpt)(graft.streaming.IndexMaintenance.noveltyScreenBatch(
        spark, idx, novDir))
      .awaitTermination()
    val got = spark.read.parquet(novDir)
    assert(got.select($"batch_id").distinct().count() === 2)
    // each row is emitted in the batch its doc arrived in
    assert(got.filter($"batch_id" === 0).select($"doc_id").as[Long]
      .collect().forall(id => id >= 300 && id < 400))
    // the monotone-ingestion identity, through the real streaming wiring:
    // concatenated screen rows == corpus-wide first-occurrence rule
    // restricted to the arrivals (exact doubles — identical-operand
    // divisions in both paths)
    val gotRows = got.select($"doc_id", $"n_distinct_ngrams",
      $"n_novel_ngrams", $"novelty").collect().map(_.toSeq).toSet
    val expected = Dedup.ngramNovelty(docs).filter($"doc_id" >= 300)
      .collect().map(_.toSeq).toSet
    assert(gotRows === expected)
    assert(gotRows.nonEmpty)
  }

  test("streaming source-overlap maintenance: served matrix equals batch at every prefix; replay is inert") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val b1 = docs.filter($"doc_id" < 200)
    val b2 = docs.filter($"doc_id" >= 200 && $"doc_id" < 350)
    val b3 = docs.filter($"doc_id" >= 350)
    val idxDir = graft.sources.Scratch.dir("graft_srcsh_m")
    val srcDir = graft.sources.Scratch.path("graft_srcsh_src")
    val ckpt = graft.sources.Scratch.dir("graft_srcsh_ck")
    def ship(b: org.apache.spark.sql.DataFrame, i: Int): Unit = {
      val tmp = graft.sources.Scratch.dir("graft_srcsh_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
    }
    def matrix(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet

    def maintain(): Unit = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
      ckpt)(graft.streaming.IndexMaintenance.sourceOverlapBatch(idxDir))
      .awaitTermination()

    // bootstrap index + two streamed batches, then serve MID-STREAM:
    // the census must equal the batch operator over everything arrived
    Dedup.appendSourceShingleIndex(b1, idxDir)
    ship(b2, 0)
    maintain()
    assert(matrix(Dedup.sourceOverlapFromIndex(spark, idxDir)) ===
      matrix(Dedup.sourceOverlap(b1.union(b2))),
      "served matrix after two batches must equal the batch operator")

    // third batch arrives; the SAME checkpoint resumes where it left off
    ship(b3, 1)
    maintain()
    val full = matrix(Dedup.sourceOverlap(docs))
    assert(matrix(Dedup.sourceOverlapFromIndex(spark, idxDir)) === full)

    // set-union idempotence: a blind REPLAY of an already-absorbed batch
    // (source-level redelivery, the worst case) changes nothing served
    Dedup.appendSourceShingleIndex(b2, idxDir)
    assert(matrix(Dedup.sourceOverlapFromIndex(spark, idxDir)) === full,
      "replayed batch must be absorbed by the census's collect_set")
  }

  /** Drives a screen step over three arrival files (docs 300–399, 400–449,
    * 450–499; docs < 300 are the caller's standing corpus) through
    * StateSink.run the way the engine retries: the first two batches run,
    * batch 1's commit is lost, so the restart re-runs batch 1 under the
    * same batchId after its absorb has landed; then the third file
    * arrives and runs on the absorbed state. Returns the rows of `out`
    * after the first run and after the restart. */
  private def runWithRetry(name: String, out: String)
                          (step: (org.apache.spark.sql.DataFrame, Long) => Unit)
      : (Seq[String], Seq[String]) = {
    import java.nio.file.{Files, Paths}
    val docs = graft.sources.Tables.documents(spark, sf)
    val srcDir = graft.sources.Scratch.path(s"${name}_src")
    val ckpt = graft.sources.Scratch.dir(s"${name}_ck")
    def ship(i: Int, from: Long, until: Long): Unit = {
      val tmp = graft.sources.Scratch.dir(s"${name}_tmp")
      docs.filter($"doc_id" >= from && $"doc_id" < until).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    def run() = {
      val q = graft.streaming.StateSink.run(
        graft.streaming.EventsCdc.readEventStream(
          spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
        ckpt)(step)
      q.awaitTermination()
      q
    }
    def rows() = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    ship(0, 300, 400)
    ship(1, 400, 450)
    run()
    val before = rows()
    Files.delete(Paths.get(ckpt, "commits", "1"))
    Files.delete(Paths.get(ckpt, "commits", ".1.crc"))
    val q = run()
    assert(q.recentProgress.exists(p => p.batchId == 1L && p.numInputRows > 0L),
      "the restart must re-run batch 1, or this spec proves nothing")
    val retried = rows()
    ship(2, 450, 500)
    run()
    (before, retried)
  }

  test("streaming dedup screen: an engine retry rewrites the same pairs and stores each doc once") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 300)
    val idx = graft.sources.Scratch.dir("graft_dsr_idx")
    val corpus = graft.sources.Scratch.dir("graft_dsr_corp")
    val pairs = graft.sources.Scratch.dir("graft_dsr_pairs")
    Dedup.appendSignatureIndex(standing, idx)
    standing.write.mode("overwrite").parquet(corpus)
    val (before, retried) = runWithRetry("graft_dsr", pairs)(
      graft.streaming.IndexMaintenance.dedupScreenBatch(spark, idx, corpus, pairs))
    assert(retried === before, "the re-run batch must rewrite the pairs it emitted")
    // the batch after the retry verifies against single copies of the
    // re-run batch's docs: the whole run still equals the batch operator
    val got = spark.read.parquet(pairs).select("d1", "d2").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashLsh(docs).select("d1", "d2").as[(Long, Long)].collect().toSet
    val bootstrap = Dedup.minhashLsh(standing)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(got === (full -- bootstrap))
    assert(spark.read.parquet(corpus).count() === docs.count(),
      "a re-run batch must not store its docs twice")
  }

  test("streaming containment screen: an engine retry rewrites the same pairs") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val idx = graft.sources.Scratch.dir("graft_csr_idx")
    val pairsDir = graft.sources.Scratch.dir("graft_csr_pairs")
    Dedup.appendContainmentIndex(docs.filter($"doc_id" < 300), idx)
    val (before, retried) = runWithRetry("graft_csr", pairsDir)(
      graft.streaming.IndexMaintenance.containmentScreenBatch(spark, idx, pairsDir))
    assert(retried === before,
      "the re-run batch must not pair its docs with themselves or their batch peers")
    val got = spark.read.parquet(pairsDir)
      .select($"d_sub", $"d_super", $"n_sub", $"inter", $"containment")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    def arrBatch(id: Long) = if (id < 300) 0 else if (id < 400) 1 else if (id < 450) 2 else 3
    val expected = Dedup.containmentJoin(docs)
      .as[(Long, Long, Long, Long, Double)].collect()
      .filter(r => arrBatch(r._1) > arrBatch(r._2)).toSet
    assert(got === expected)
  }

  test("streaming span screen: an engine retry rewrites the same spans") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val standing = docs.filter($"doc_id" < 300)
    val idx = graft.sources.Scratch.dir("graft_ssr_idx")
    val corpus = graft.sources.Scratch.dir("graft_ssr_corp")
    val spans = graft.sources.Scratch.dir("graft_ssr_spans")
    Dedup.appendFingerprintIndex(standing, idx)
    standing.write.mode("overwrite").parquet(corpus)
    val (before, retried) = runWithRetry("graft_ssr", spans)(
      graft.streaming.IndexMaintenance.spanScreenBatch(
        spark, idx, corpus, spans, maxDf = 64))
    assert(retried === before, "the re-run batch must rewrite the spans it emitted")
    val got = spark.read.parquet(spans).select($"doc_id", $"start_tok", $"len_tok")
      .as[(Long, Long, Long)].collect().toSet
    val batch = Dedup.exactSubstrSpans(docs, maxDf = 64)
      .filter($"doc_id" >= 300)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === batch)
    val stored = spark.read.parquet(corpus)
    assert(stored.count() === docs.count() &&
      stored.select($"doc_id").distinct().count() === docs.count(),
      "a re-run batch must not store its docs twice")
  }

  test("streaming novelty screen: an engine retry re-scores its batch as zero-novel (known divergence)") {
    // the hash-only index cannot tell a batch's own absorbed grams from
    // earlier docs' grams, so the re-run replaces batch 1's rows with
    // zero-novel ones; the batches around it stay exact
    val docs = graft.sources.Tables.documents(spark, sf)
    val idx = graft.sources.Scratch.dir("graft_nsr_idx")
    val novDir = graft.sources.Scratch.dir("graft_nsr_out")
    Dedup.appendNoveltyIndex(docs.filter($"doc_id" < 300), idx)
    val (before, retried) = runWithRetry("graft_nsr", novDir)(
      graft.streaming.IndexMaintenance.noveltyScreenBatch(spark, idx, novDir))
    val got = spark.read.parquet(novDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select($"doc_id",
      $"n_distinct_ngrams", $"n_novel_ngrams", $"novelty").collect().map(_.toSeq).toSet
    val expected = Dedup.ngramNovelty(docs).filter($"doc_id" >= 300)
    val inBatch1 = $"doc_id" >= 400 && $"doc_id" < 450
    assert(rows(got.filter($"batch_id" =!= 1)) === rows(expected.filter(!inBatch1)))
    assert(expected.filter(inBatch1 && $"n_novel_ngrams" > 0).count() > 0,
      "batch 1 must carry novel grams, or this spec proves nothing")
    val rescored = got.filter($"batch_id" === 1)
    assert(rescored.count() === expected.filter(inBatch1).count())
    assert(rescored.filter($"n_novel_ngrams" > 0).count() === 0,
      "the retry no longer zero-scores its batch: drop this divergence")
    assert(retried !== before)
  }
}
