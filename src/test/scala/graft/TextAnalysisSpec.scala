package graft

import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("langId scores stopword hits and breaks ties deterministically") {
    val docs = Seq(
      (1L, "the cat and the hat of doom"),     // en
      (2L, "el gato y la casa de los perros"), // es ('la','de' also fr — es wins count)
      (3L, "der hund und die katze von mit"),  // de
      (4L, "xyzzy plugh quux")                 // nothing
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    assert(out(1L) === "en")
    assert(out(2L) === "es")
    assert(out(3L) === "de")
    assert(out(4L) === "unknown")
  }

  test("quality metrics on a known string") {
    val docs = Seq((1L, "the cat, the hat!")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(docs).head()
    assert(r.getAs[Int]("n_chars") === 17)
    assert(r.getAs[Int]("n_words") === 4)
    // punct: ',' and '!' -> 2/17
    assert(math.abs(r.getAs[Double]("punct_ratio") - 2.0 / 17) < 1e-12)
    // 'the' twice of 4 words
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 0.5) < 1e-12)
    // tokens: the(3) cat,(4) the(3) hat!(4) = 14/4
    assert(math.abs(r.getAs[Double]("mean_word_len") - 3.5) < 1e-12)
  }

  test("token counts: whitespace vs BPE-ish segmentation") {
    val docs = Seq((1L, "hello world42 it's x1")).toDF("doc_id", "text")
    val r = TextAnalysis.tokenCount(docs).head()
    assert(r.getAs[Int]("ws_tokens") === 4)
    // hello | world | 42 | it | ' | s | x | 1
    assert(r.getAs[Int]("bpe_tokens") === 8)
  }

  test("ngrams equals Scala's sliding: NULL, empty, short, exact, spaced rows and block tails") {
    // texts by id: NULL, "", 1..17 words, runs of spaces (empty tokens)
    val texts: Seq[(Int, Option[String])] =
      Seq(0 -> None, 1 -> Some(""), 2 -> Some("a  b   c d"), 3 -> Some("  x y  ")) ++
        (1 to 17).map(k => (10 + k) -> Some((1 to k).map(i => s"W$i").mkString(" ")))
    val docs = texts.toDF("id", "text")
      .select($"id", TextAnalysis.tokens($"text").as("t"))
    // reference: the same tokens (lowercase, trim spaces, split keeping
    // empty tokens), Scala's sliding, and only full windows at stride 1
    def ref(text: Option[String], n: Int, stride: Int): Seq[(Int, Seq[String])] =
      text.toSeq.flatMap { s =>
        val t = s.toLowerCase.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ')
          .reverse.split(" ", -1).toSeq
        val w = t.sliding(n, stride).toSeq
        (if (stride == 1) w.filter(_.size == n) else w).zipWithIndex
          .map { case (g, i) => (i, g) }
      }
    // (n, stride): n = 1, shingles below/at/above the row size, blocks
    // with tail widths 1..8, a stride between 1 and n, a stride above n
    Seq((1, 1), (2, 1), (3, 1), (5, 1), (8, 8), (3, 3), (4, 2), (2, 3)).foreach {
      case (n, stride) =>
        val got = docs
          .select($"id", posexplode(TextAnalysis.ngrams($"t", n, stride, g => g)))
          .as[(Int, Int, Seq[String])].collect()
          .groupBy(_._1).map { case (id, rs) =>
            id -> rs.map(r => (r._2, r._3)).sortBy(_._1).toSeq }
        texts.foreach { case (id, text) =>
          assert(got.getOrElse(id, Seq.empty) === ref(text, n, stride),
            s"n=$n stride=$stride text=$text")
        }
        // the default gram is the slice joined by single spaces
        val joined = docs.select($"id", explode(TextAnalysis.ngrams($"t", n, stride)))
          .as[(Int, String)].collect().toSeq.sorted
        assert(joined === got.toSeq.flatMap { case (id, gs) =>
          gs.map(g => (id, g._2.mkString(" "))) }.sorted, s"n=$n stride=$stride")
    }
    // no gram reads NULL: NULL text, and fewer than n tokens at stride 1
    val none = docs.select($"id", TextAnalysis.ngrams($"t", 3).isNull.as("none"))
      .as[(Int, Boolean)].collect().toMap
    assert(none(0) && none(1) && none(11) && none(12) && !none(13))
  }

  test("repetition signals: duplicated text scores high, diverse text low") {
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, "four distinct words here")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(docs).orderBy("doc_id").collect()
    assert(r(0).getAs[Int]("n_tokens") === 4)
    assert(math.abs(r(0).getAs[Double]("dup_word_ratio") - 0.75) < 1e-12)
    assert(math.abs(r(0).getAs[Double]("top_bigram_ratio") - 1.0) < 1e-12)
    assert(r(1).getAs[Double]("dup_word_ratio") === 0.0)
    assert(math.abs(r(1).getAs[Double]("top_bigram_ratio") - 1.0 / 3) < 1e-12)
  }

  test("fingerprints are deterministic and match iff content matches") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i j"),
      (3L, "z y x w v u t s r q")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprint(docs)
      .select($"doc_id", $"fingerprint").as[(Long, Seq[Long])].collect().toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L).intersect(fp(3L)).isEmpty)
    assert(fp(1L).nonEmpty && fp(1L) === fp(1L).sorted)
  }

  test("NFC normalization composes decomposed code points, leaves NFC text alone") {
    import graft.functions.NativeExpressions.nfcNormalize
    val composed = "café"            // é as one code point
    val decomposed = "café"         // e + combining acute
    val docs = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"))
      .toDF("doc_id", "text")
    val got = docs
      .select($"doc_id", nfcNormalize($"text").as("norm"),
              (nfcNormalize($"text") =!= $"text").as("changed"))
      .as[(Long, String, Boolean)].collect().sortBy(_._1)
    assert(got(0) === ((1L, composed, true)))  // decomposed -> composed
    assert(got(1) === ((2L, composed, false)))
    assert(got(2) === ((3L, "plain ascii", false)))
  }

  test("piiRedact counts and scrubs planted emails, IPs, and phone numbers") {
    val docs = Seq(
      (1L, "contact bob.smith+spam@example.co.uk or 10.0.255.3 now"),
      (2L, "call 555-867-5309 x 555-867-5309 plain text"),
      (3L, "nothing sensitive here at all"),
      (4L, "mixed a@b.io 1.2.3.4 999-111-2222 end")).toDF("doc_id", "text")
    val got = TextAnalysis.piiRedact(docs)
      .select("doc_id", "n_emails", "n_ips", "n_phones", "redacted_text")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) === ((1L, 1, 1, 0, "contact <EMAIL> or <IP> now")))
    assert(got(1) === ((2L, 0, 0, 2, "call <PHONE> x <PHONE> plain text")))
    assert(got(2) === ((3L, 0, 0, 0, "nothing sensitive here at all")))
    assert(got(3) === ((4L, 1, 1, 1, "mixed <EMAIL> <IP> <PHONE> end")))
  }

  test("winnowing guarantee: docs sharing a long run share a fingerprint hash") {
    // k=3, w=4 -> any shared run of >= w+k-1 = 6 words shares a hash
    val docs = Seq(
      (1L, "p q r s t u v w x y"),
      (2L, "a b c d s t u v w x XX")).toDF("doc_id", "text") // shares "s t u v w x"
    val fp = TextAnalysis.fingerprint(docs)
      .select($"doc_id", $"fingerprint").as[(Long, Seq[Long])].collect().toMap
    assert(fp(1L).intersect(fp(2L)).nonEmpty)
  }

  test("tfidfTopTerms ranks rare frequent terms first, ties broken by term") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "cherry durian cherry")
    ).toDF("doc_id", "text")
    // N=3; df: apple 1, banana 2, cherry 2, durian 1
    // doc1: apple 2*4/2=4.0 > banana 1*4/3; doc2: banana vs cherry TIE at
    // 4/3 -> term order; doc3: cherry 2*4/3 > durian 1*4/2=2.0
    val out = TextAnalysis.tfidfTopTerms(docs, k = 1)
      .select($"doc_id", $"term", $"score")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, "apple", 4.0), (2L, "banana", 4.0 / 3), (3L, "cherry", 8.0 / 3)))
  }

  test("packSequences lays docs end-to-end per shard and cuts at ctxLen") {
    // shard A: token counts 4, 3, 5 with ctxLen 8 ->
    //   doc 1 starts at 0 (seq 0), doc 2 at 4 (seq 0, no span: 4+3-1=6 < 8),
    //   doc 3 at 7 (seq 0, spans into seq 1)
    // shard B packs independently from offset 0
    val docs = Seq(
      (1L, "a b c d", "A"), (2L, "e f g", "A"), (3L, "h i j k l", "A"),
      (4L, "x y", "B")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.packSequences(docs, ctxLen = 8)
      .select($"doc_id", $"shard", $"n_tokens", $"tok_start", $"seq_id",
              $"seq_offset", $"spans_boundary")
      .as[(Long, String, Int, Long, Long, Int, Boolean)].collect()
      .sortBy(_._1)
    assert(out(0) === ((1L, "A", 4, 0L, 0L, 0, false)))
    assert(out(1) === ((2L, "A", 3, 4L, 0L, 4, false)))
    assert(out(2) === ((3L, "A", 5, 7L, 0L, 7, true)))
    assert(out(3) === ((4L, "B", 2, 0L, 0L, 0, false)))
  }

  test("lengthBuckets splits each language into even head/middle/tail terciles") {
    // 9 distinct lengths per language -> exactly 3 docs per bucket, and
    // the two languages bucket independently (en lengths 10..90, de 1000+)
    val docs = ((1 to 9).map(i => (i.toLong, "en", i * 10L)) ++
                (1 to 9).map(i => (100L + i, "de", 1000L + i)))
      .toDF("doc_id", "lang", "n_chars")
    val out = TextAnalysis.lengthBuckets(docs)
      .select($"doc_id", $"lang", $"bucket").as[(Long, String, String)].collect()
    assert(out.length === 18)
    val byLangBucket = out.groupBy(r => (r._2, r._3)).view.mapValues(_.length).toMap
    for (lang <- Seq("en", "de"); b <- Seq("tail", "middle", "head"))
      assert(byLangBucket((lang, b)) === 3, s"$lang/$b")
    // buckets follow the length order: the 3 shortest en docs are the tail
    val enTail = out.filter(r => r._2 == "en" && r._3 == "tail").map(_._1).toSet
    assert(enTail === Set(1L, 2L, 3L))
  }

  test("bigramPmi ranks tight collocations above frequent-word pairs and never spans docs") {
    // 'san francisco' only ever co-occur; 'the' also appears next to five
    // different words (doc 3), diluting its association with 'cat'. Doc 4
    // ends with 'san' and doc 5 starts with 'francisco' — if pairs spanned
    // documents n_xy would be 7, not 6.
    val docs = Seq(
      (1L, ("san francisco " * 6).trim),
      (2L, ("the cat " * 6).trim),
      (3L, "the dog the pig the cow the fox the hen"),
      (4L, "x y san"), (5L, "francisco z w")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramPmi(docs, minCount = 5, k = 10)
      .select($"w1", $"w2", $"n_xy", $"pmi_ratio")
      .as[(String, String, Long, Double)].collect()
    val sf = out.find(r => r._1 == "san" && r._2 == "francisco").get
    assert(sf._3 === 6L, "doc-spanning would make it 7")
    // the exclusive collocation outranks the diluted one:
    // 6·40/(7·7) ≈ 4.9 for san-francisco vs 6·40/(11·6) ≈ 3.6 for the-cat
    assert(out.head._1 === "san" && out.head._2 === "francisco")
    val theCat = out.find(r => r._1 == "the" && r._2 == "cat").get
    assert(sf._4 > theCat._4)
    // scores are descending
    assert(out.map(_._4).sliding(2).forall(w => w.length < 2 || w(0) >= w(1)))
  }

  test("bpeMergePass is greedy left-to-right non-overlapping") {
    def pass(syms: Seq[String], a: String, b: String): Seq[String] =
      Seq(Tuple1(syms)).toDF("syms")
        .select(TextAnalysis.bpeMergePass($"syms", a, b).as("out"))
        .as[Seq[String]].head()
    // the canonical overlap case: [a,a,a] merges the FIRST pair only
    assert(pass(Seq("a", "a", "a"), "a", "a") === Seq("aa", "a"))
    // non-overlapping occurrences all merge in one pass
    assert(pass(Seq("x", "a", "b", "a", "b", "y"), "a", "b") ===
      Seq("x", "ab", "ab", "y"))
    // a merged symbol is not re-used as the left of another merge
    assert(pass(Seq("a", "b", "b"), "a", "b") === Seq("ab", "b"))
    // no match → unchanged; single symbol → unchanged
    assert(pass(Seq("q", "r"), "a", "b") === Seq("q", "r"))
    assert(pass(Seq("z"), "a", "b") === Seq("z"))
  }

  test("bpeTrain learns the expected merges on a known corpus") {
    // 'low' x3, 'lowest' x2: pair (l,o) count 5 dominates; after (l,o) and
    // (lo,w) the 'low</w>' suffix (count 3) beats the 'est</w>' chain
    val docs = Seq(
      (1L, "low low low"),
      (2L, "lowest lowest")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(docs, nMerges = 4)
      .as[(Int, String, String, Long)].collect()
    assert(merges.map(_._1).toSeq === Seq(1, 2, 3, 4))
    assert(merges(0) === ((1, "l", "o", 5L)))
    assert(merges(1) === ((2, "lo", "w", 5L)))
    assert(merges(2) === ((3, "low", "</w>", 3L)))
    // remaining: 'low' + e s t </w> (x2): pairs (low,e) (e,s) (s,t) (t,</w>)
    // all count 2 → lexicographic tie-break picks (e,s)
    assert(merges(3) === ((4, "e", "s", 2L)))
    // encode = the final training state, read out per word
    val enc = TextAnalysis.bpeEncode(docs, nMerges = 4)
      .as[(String, Long, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(enc("low") === ((3L, 1, "low</w>")))
    assert(enc("lowest") === ((2L, 4, "low es t </w>")))
    // a merge count beyond exhaustion stops early instead of emitting junk
    val tiny = Seq((1L, "ab")).toDF("doc_id", "text")
    val m2 = TextAnalysis.bpeTrain(tiny, nMerges = 10)
      .as[(Int, String, String, Long)].collect()
    // 'ab' → a b </w> → (a,b) then (ab,</w>) then nothing: 2 merges only
    assert(m2.length === 2)
    assert(m2(0)._2 === "a" && m2(0)._3 === "b")
    assert(m2(1)._2 === "ab" && m2(1)._3 === "</w>")
  }

  test("bpeFertility: per-source tokens/word and chars/token from the trained state") {
    // same low/lowest corpus split across sources: after 4 merges
    // low -> [low</w>] (1 token), lowest -> [low es t </w>] (4 tokens)
    val docs = Seq(
      (1L, "low low low", "s1"),
      (2L, "lowest lowest", "s2")).toDF("doc_id", "text", "source")
    val out = TextAnalysis.bpeFertility(docs, nMerges = 4)
      .as[(String, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out("s1") === ((3L, 3L, 9L, 1.0, 3.0)))
    assert(out("s2") === ((2L, 8L, 12L, 4.0, 1.5)))
  }

  test("gopherRules: each rule fires alone and in first-fail order") {
    val long = ("the of " + Seq.fill(40)("word").mkString(" ")) // 42 words, 2 stops
    val docs = Seq(
      (1L, long),                                    // passes every rule
      (2L, "the of too short"),                      // < 30 words
      (3L, ("the of " + Seq.fill(40)("lengthy-word-x").mkString(" "))), // word_len
      (4L, ("the of " + Seq.fill(40)("12345").mkString(" "))), // alpha (digits)
      (5L, Seq.fill(40)("word").mkString(" "))       // no stopwords at all
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRules(docs)
      .select("doc_id", "fail_reason", "keep")
      .as[(Long, String, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === (("ok", true)))
    assert(out(2L) === (("too_short", false)))
    assert(out(3L) === (("word_len", false)))
    // doc 4: mean word len of '12345'(5)/'the'(3)/'of'(2) stays in band,
    // alpha ratio 2/42 < 0.8 -> the alpha rule is the first to fire
    assert(out(4L)._1 === "alpha" && !out(4L)._2)
    assert(out(5L)._1 === "stopwords" && !out(5L)._2)
  }

  test("streaming quality screen: concatenated outputs equal the batch gate") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val b1 = docs.filter($"doc_id" < 250)
    val b2 = docs.filter($"doc_id" >= 250)
    val srcDir = graft.sources.Scratch.path("graft_qs_src")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_qs_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val kept = graft.sources.Scratch.dir("graft_qs_kept")
    val report = graft.sources.Scratch.dir("graft_qs_rep")
    val ckpt = graft.sources.Scratch.dir("graft_qs_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
      ckpt)(graft.streaming.StreamingQuality.qualityScreenBatch(kept, report))
    q.awaitTermination()
    val rep = spark.read.parquet(report)
    assert(rep.count() === docs.count(), "every arrived doc is scored")
    assert(rep.select($"batch_id").distinct().count() === 2)
    val batchKeep = TextAnalysis.gopherRules(docs)
      .filter($"keep").select("doc_id").as[Long].collect().toSet
    val gotKeep = spark.read.parquet(kept)
      .select("doc_id").as[Long].collect().toSet
    assert(gotKeep === batchKeep,
      "streamed keepers must equal the batch gate's keep set")
    assert(gotKeep.nonEmpty && gotKeep.size < docs.count(),
      "the corpus should split across the gate")
    // the kept store carries full document rows plus the batch_id
    // provenance partition (the idempotent-retry sink's tag)
    assert(spark.read.parquet(kept).columns.toSet ===
      docs.columns.toSet + "batch_id")
  }

  test("streaming quality screen: a failed keeper write releases the persisted report") {
    val docs = graft.sources.Tables.documents(spark, sf).filter($"doc_id" < 50)
    val srcDir = graft.sources.Scratch.path("graft_qsf_src")
    val tmp = graft.sources.Scratch.dir("graft_qsf_tmp")
    docs.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, srcDir.resolve("0.parquet"))
    // the keeper store is a regular file: the report write lands, then
    // the keeper write throws with the report still persisted
    val kept = java.nio.file.Files.createFile(
      graft.sources.Scratch.path("graft_qsf_kept").resolve("kept")).toString
    val report = graft.sources.Scratch.dir("graft_qsf_rep")
    val ckpt = graft.sources.Scratch.dir("graft_qsf_ck")
    val before = spark.sparkContext.getPersistentRDDs.size
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(spark, srcDir.toString, docs),
      ckpt)(graft.streaming.StreamingQuality.qualityScreenBatch(kept, report))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(spark.read.parquet(report).count() === docs.count(),
      "the report write must land before the keeper write fails")
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "the batch's persisted report must be released when a write throws")
  }

  test("corpus drift: tagged partials + moving-boundary read, hand-computed") {
    val docs = Seq(
      (0L, "s", "w1 w2"),       // batch 0 (old side), 2 tokens
      (3L, "s", "w1 w2 w3"),    // batch 3 (old side), 3 tokens
      (4L, "s", "w1"),          // batch 4 (new side), 1 token
      (9L, "t", "w1 w2 w3 w4")  // batch 1 (old side); t has NO new half
    ).toDF("doc_id", "source", "text")
    val state = graft.streaming.StreamingCorpusStats.taggedPartials(docs, 8)
    assert(state.count() === 4, "one partial row per (source, batch)")
    val out = graft.streaming.StreamingCorpusStats
      .driftFromState(state, boundary = 3L)
      .collect().map(r => r.getString(0) -> r).toMap
    val s = out("s")
    assert((s.getLong(1), s.getLong(2), s.getLong(3), s.getLong(4)) ===
      ((2L, 1L, 5L, 1L)))
    assert(s.getDouble(5) === 2.5 && s.getDouble(6) === 1.0)
    assert(s.getDouble(7) === 1.0 / 2.5)
    val t = out("t")
    assert((t.getLong(1), t.getLong(3)) === ((1L, 4L)))
    assert(t.isNullAt(2) && t.isNullAt(4) && t.isNullAt(6) && t.isNullAt(7),
      "an absent half reports NULL, never 0/0")
  }

  test("streaming corpus stats: drift served from state equals the batch token_drift") {
    // file 1 = even doc_ids, file 2 = odd — the same split the batch
    // token_drift entry pins at plan time; with boundary = batch 0 the
    // served moving-boundary report must equal it EXACTLY (long sums +
    // one division per mean)
    val docs = graft.sources.Tables.documents(spark, sf)
    val srcDir = graft.sources.Scratch.path("graft_cs_src")
    Seq($"doc_id" % 2 === 0, $"doc_id" % 2 =!= 0).zipWithIndex.foreach {
      case (f, i) =>
        val tmp = graft.sources.Scratch.dir("graft_cs_tmp")
        docs.filter(f).coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
        Thread.sleep(1000)
    }
    val stateDir = graft.sources.Scratch.dir("graft_cs_state")
    val ckpt = graft.sources.Scratch.dir("graft_cs_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, docs, maxFilesPerTrigger = 1),
      ckpt)((b, id) => graft.streaming.StateSink.appendIdempotent(
        graft.streaming.StreamingCorpusStats.batchPartials(b), id, stateDir))
    q.awaitTermination()
    val state = spark.read.parquet(stateDir)
    assert(state.select($"batch_id").distinct().count() === 2)
    val served = graft.streaming.StreamingCorpusStats
      .driftFromState(state, boundary = 0L)
      .collect().map(_.toString).toSet
    val batch = SparkEntry.queries("token_drift")(spark, sf)
      .collect().map(_.toString).toSet
    assert(served === batch && served.nonEmpty,
      "served drift must equal the batch token_drift bit-for-bit")
    // the mixture read over the SAME state (both halves = whole corpus)
    // must equal the batch mixture_schedule bit-for-bit: long partials
    // merge by addition, the schedule math is identical downstream
    val servedMix = graft.streaming.StreamingCorpusStats
      .mixtureFromState(state)
      .collect().map(_.toString).toSeq
    val batchMix = SparkEntry.queries("mixture_schedule")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(servedMix === batchMix && servedMix.nonEmpty,
      "served mixture must equal the batch mixture_schedule bit-for-bit")
  }

  test("lmBigramScore: repeated bigrams score higher than novel ones") {
    // corpus: "a b" appears 3x, "c d"/"e f" once each; V = 8 distinct tokens
    val docs = Seq(
      (1L, "a b a b a b"),
      (2L, "c d"),
      (3L, "e f g h")).toDF("doc_id", "text")
    val out = TextAnalysis.lmBigramScore(docs).orderBy("doc_id").collect()
    assert(out.length === 3)
    val d1 = out(0)
    assert(d1.getAs[Int]("n_bigrams") === 5)
    val d2 = out(1)
    assert(d2.getAs[Int]("n_bigrams") === 1)
    // doc 2's single bigram "c d": p = (1+1)/(c('c')=1 + V=8) = 2/9
    assert(math.abs(d2.getAs[Double]("avg_p") - 2.0 / 9) < 1e-6)
    // the templated doc scores strictly higher than both novel docs
    assert(d1.getAs[Double]("avg_p") > d2.getAs[Double]("avg_p"))
    assert(d1.getAs[Double]("avg_p") > out(2).getAs[Double]("avg_p"))
  }

  test("source_keywords: 5 ranked rows per source, scores exact and non-increasing") {
    val out = SparkEntry.queries("source_keywords")(spark, sf)
      .select($"source", $"rank", $"tf", $"df", $"score")
      .as[(String, Int, Long, Long, Double)].collect()
    val nsrc = graft.sources.Tables.documents(spark, sf)
      .select($"source").distinct().count()
    out.groupBy(_._1).values.foreach { src =>
      assert(src.map(_._2).sorted.toSeq === (1 to src.length).toSeq)
      assert(src.length <= 5)
      val byRank = src.sortBy(_._2)
      byRank.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(a._5 >= b._5, "scores must not increase with rank")
        case _         =>
      }
    }
    // the score is the exact rational tf·|sources|/df, not an approximation
    out.foreach { r =>
      assert(r._5 === (r._3 * nsrc).toDouble / r._4)
    }
  }

  test("charGini: uniform text scores high, single-char floods score zero, empty text absent") {
    val docs = Seq(
      (1L, "aaaa"),         // one char: gini 0, top share 1
      (2L, "abab"),         // two chars 2+2: gini = 1 - 8/16 = 0.5
      (3L, "abcd"),         // four distinct: gini = 1 - 4/16 = 0.75
      (4L, "")              // empty: no distribution, absent — and the
                            // sequence(1,0) descending trap must NOT
                            // fabricate phantom characters
    ).toDF("doc_id", "text")
    val out = TextAnalysis.charGini(docs)
      .select($"doc_id", $"n_chars", $"distinct_chars", $"gini", $"top_char_ratio")
      .as[(Long, Long, Int, Double, Double)].collect().sortBy(_._1)
    assert(out.map(_._1).toSeq === Seq(1L, 2L, 3L))
    assert(out(0) === ((1L, 4L, 1, 0.0, 1.0)))
    assert(out(1) === ((2L, 4L, 2, 0.5, 0.5)))
    assert(out(2) === ((3L, 4L, 4, 0.75, 0.25)))
  }

  test("doc_chunking: chunks tile every token with stride-32 overlap; short docs one chunk") {
    val rows = SparkEntry.queries("doc_chunking")(spark, sf)
      .select($"doc_id", $"chunk_idx", $"start_tok", $"n_tokens")
      .as[(Long, Int, Int, Int)].collect()
      .groupBy(_._1).values
    rows.foreach { chunks =>
      val sorted = chunks.sortBy(_._2)
      // first chunk starts at token 1; consecutive starts step by exactly 32
      assert(sorted.head._3 === 1)
      sorted.toSeq.sliding(2).foreach {
        case Seq(a, b) => assert(b._3 - a._3 === 32)
        case _         =>
      }
      // every chunk but the last is full-width; all chunks ≤ 64 tokens
      sorted.init.foreach(c => assert(c._4 === 64))
      assert(sorted.last._4 <= 64 && sorted.last._4 >= 1)
      // the doc has more than one chunk ONLY if it overflows one window,
      // and the final chunk reaches past what the previous chunks covered
      if (sorted.length > 1) {
        val last = sorted.last
        assert(last._3 + last._4 - 1 > sorted.init.last._3 + 31)
      }
    }
  }

  test("ccnet buckets: near-equal thirds, head scores >= tail scores") {
    val out = SparkEntry.queries("ccnet_perplexity_buckets")(spark, sf)
      .select($"bucket", $"avg_p").as[(String, Double)].collect()
    val byBucket = out.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val sizes = byBucket.view.mapValues(_.length).toMap
    assert(sizes.values.max - sizes.values.min <= 1) // ntile near-equality
    // ranked cut: scores only descend across head → middle → tail (ties
    // may sit exactly on a boundary, hence >=)
    assert(byBucket("head").min >= byBucket("middle").max)
    assert(byBucket("middle").min >= byBucket("tail").max)
  }

  test("vocabGrowth: hand-computed buckets, cumulative vocab/token totals, empty tokens excluded") {
    val docs = Seq(
      (0L, "a b"),     // bucket 0
      (1L, "b c"),     // bucket 0: tokens a,b,b,c; new types a,b,c
      (2L, "c d"),     // bucket 1
      (3L, ""),        // bucket 1: empty text -> 0 tokens, still a doc
      (4L, "a e  f")   // bucket 2: double space -> empty token excluded
    ).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs, bucketWidth = 2L)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (0L, 2L, 4L, 3L, 3L, 4L),
      (1L, 2L, 2L, 1L, 4L, 6L),
      (2L, 1L, 3L, 2L, 6L, 9L)))
  }

  test("incremental vocab: served curve equals batch across a bucket-misaligned split; type half is replay-inert") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val b1 = docs.filter($"doc_id" < 300) // 300/64 is mid-bucket on purpose
    val b2 = docs.filter($"doc_id" >= 300)
    val dir = graft.sources.Scratch.dir("graft_vocab_spec")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().map(_.toSeq).toSeq

    // prefix serve: index over batch 1 alone equals the batch operator on it
    TextAnalysis.appendVocabIndex(b1, dir)
    assert(rows(TextAnalysis.vocabGrowthFromIndex(spark, dir)) ===
      rows(TextAnalysis.vocabGrowth(b1)))

    // full serve after a blind append equals the whole-corpus batch curve
    TextAnalysis.appendVocabIndex(b2, dir)
    val full = rows(TextAnalysis.vocabGrowth(docs))
    assert(rows(TextAnalysis.vocabGrowthFromIndex(spark, dir)) === full)

    // the documented replay contract: a re-appended batch leaves the TYPE
    // half untouched (per-hash min is idempotent — new_types/vocab_size
    // unchanged) while the volume half double-counts (the gram-df caveat)
    TextAnalysis.appendVocabIndex(b2, dir)
    val replayed = TextAnalysis.vocabGrowthFromIndex(spark, dir)
      .select($"bucket", $"new_types", $"vocab_size")
    assert(rows(replayed) ===
      full.map(r => Seq(r(0), r(3), r(4))),
      "replayed batch must not perturb first-occurrence type attribution")
    val tokensNow = TextAnalysis.vocabGrowthFromIndex(spark, dir)
      .agg(org.apache.spark.sql.functions.sum($"n_tokens")).as[Long].head()
    val tokensBatch = TextAnalysis.vocabGrowth(docs)
      .agg(org.apache.spark.sql.functions.sum($"n_tokens")).as[Long].head()
    assert(tokensNow > tokensBatch, "volume half is documented to double-count on replay")
  }
}
