package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sources.FileFormats

/** Benchmark main: one JSON line with per-query wall times at
  * `SPARK_GRAFT_SF_DIR`.
  *
  * Every query runs TWICE in deterministic registry order: the first (cold)
  * run absorbs plan compilation (janino time lands on the query that
  * triggers it — run-order noise was r2's biggest bench artifact), the
  * second (warm) run is the reported number. `value` is the warm total.
  * Failures are never swallowed: a query that throws is reported as -1 in
  * both maps plus an entry in `errors`, so a fast failure can't read as a
  * fast success.
  */
object Bench {

  private def jmap(m: Seq[(String, String)]): String =
    m.map { case (k, v) => JsonEscape.str(k) + ":" + v }.mkString("{", ",", "}")

  /** Bench-only extras (not in the correctness registry): the production
    * xxhash64 winnowing fingerprint next to the registry's portable-md5
    * variant, so the headline number also covers the path real pipelines
    * run (the md5 variant exists for DuckDB oracle replay). */
  private def extras: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "doc_fingerprint_fast" -> ((s, d) =>
      graft.ops.TextAnalysis.fingerprintHashes(graft.sources.Tables.documents(s, d))),
    // production quantile path: the mergeable approx sketch alone — the
    // registry variant also computes EXACT percentiles for the oracle,
    // which buffers whole groups and is not the 100 TB plan
    "approx_quantiles_fast" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      graft.sources.Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("p"))
        .groupBy(col("l_returnflag"))
        .agg(expr("approx_percentile(p, array(0.5, 0.95), 10000)").as("aps"))
    }),
    // production quantile-sketch path: build the per-year histograms and
    // answer the merged subset quantiles from bins alone — the registry
    // entry additionally full-sorts each subset for the audit-only exact
    // rank value, which is not the 100 TB plan
    "quantile_sketch_fast" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val cents = graft.sources.Tables.lineitem(s, d)
        .select(year(col("l_shipdate")).as("yr"),
          (col("l_extendedprice").cast("decimal(38,2)") * 100).cast("long").as("cents"))
      val r = cents.agg(min(col("cents")), max(col("cents"))).head()
      val sk = graft.ops.Sketches.histogramSketch(
          cents, col("yr"), col("cents"), r.getLong(0), r.getLong(1))
        .withColumn("subset", lit("all"))
      graft.ops.Sketches.histogramQuantiles(sk, col("subset"),
        Seq((1, 4), (1, 2), (9, 10), (99, 100)), r.getLong(0), r.getLong(1))
    }),
    // production heavy-hitters path: per-shard MG sketch rows + merged
    // read, no exact-count audit join
    "heavy_hitters_fast" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val toks = graft.sources.Tables.documents(s, d)
        .select(pmod(col("doc_id"), lit(8)).as("bucket"),
                // quotient-derived shard: independent of bucket, so the
                // merged read genuinely combines multiple sketch rows
                pmod(shiftright(col("doc_id"), 3), lit(4)).as("shard"),
                explode(graft.ops.TextAnalysis.tokens(col("text"))).as("item"))
      graft.ops.Sketches.heavyHittersMerged(
        graft.ops.Sketches.heavyHitterSketch(
          toks, col("bucket"), col("shard"), col("item"), 64), 64)
    }),
    // steady-state incremental dedup: a 4% arrival batch probing a STANDING
    // signature index. The index builds once (first/cold call) and is
    // reused, so the warm number is the pure per-arrival probe cost — the
    // recurring cost of a production dedup — while the registry entry
    // honestly re-pays the build every run
    // steady-state canonical selection: keep-best over a STANDING cluster
    // table. The minhash -> clusters pipeline runs once (first/cold call)
    // into a persisted membership table; the warm number is the recurring
    // production cost — member-pruned token counts + a membership-sized
    // window — while the registry entry honestly re-pays the full pipeline
    "dedup_keep_best_probe" -> {
      val clusterCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
      (s: SparkSession, d: String) => {
        val docs = graft.sources.Tables.documents(s, d)
        val dir = clusterCache.computeIfAbsent(d, _ => {
          val dd = graft.sources.Scratch.dir("graft_clusters_bench")
          graft.ops.Dedup.writeClusterTable(docs, dd)
          dd
        })
        graft.ops.Dedup.keepBest(FileFormats.readParquet(s, dir), docs)
      }
    },
    // steady-state per-source duplication dashboard: the same standing
    // cluster table answered by one (doc_id, source) scan + left join +
    // source-keyed aggregate — the recurring read a corpus-health monitor
    // pays per snapshot, while the registry entry honestly re-pays the
    // minhash -> clusters derivation for its oracle
    "source_dup_stats_probe" -> {
      val clusterCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val docs = graft.sources.Tables.documents(s, d)
        val dir = clusterCache.computeIfAbsent(d, _ => {
          val dd = graft.sources.Scratch.dir("graft_srcdup_bench")
          graft.ops.Dedup.writeClusterTable(docs, dd)
          dd
        })
        docs.select(col("doc_id"), col("source"))
          .join(FileFormats.readParquet(s, dir).select(col("doc_id"), col("cluster_id")),
            Seq("doc_id"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
               count(col("cluster_id")).as("n_dup"),
               countDistinct(col("cluster_id")).as("n_clusters"))
          .select(col("source"), col("n_docs"), col("n_dup"),
            (col("n_dup").cast("double") / col("n_docs")).as("dup_share"),
            col("n_clusters"))
      }
    },
    "incremental_dedup_probe" -> {
      val indexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        val all = graft.sources.Tables.documents(s, d)
        val standing = all.filter(col("doc_id") % 25 =!= 0)
        val dir = indexCache.computeIfAbsent(d, _ => {
          val dd = graft.sources.Scratch.dir("graft_sig_bench")
          graft.ops.Dedup.appendSignatureIndex(standing, dd)
          dd
        })
        graft.ops.Dedup.incrementalMinhash(s, dir,
          standing, all.filter(col("doc_id") % 25 === 0))
      }
    },
    // steady-state exact-substring screen: a 4% arrival batch probing the
    // STANDING winnowing-fingerprint index. The index builds once
    // (first/cold call) and is reused, so the warm number is the pure
    // per-arrival span-screen cost — the recurring production path —
    // while the registry's exact_substr_spans honestly re-pays the whole
    // corpus-wide pipeline every run
    "span_screen_probe" -> {
      val indexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        val all = graft.sources.Tables.documents(s, d)
        val standing = all.filter(col("doc_id") % 25 =!= 0)
        val dir = indexCache.computeIfAbsent(d, _ => {
          val dd = graft.sources.Scratch.dir("graft_fp_bench")
          graft.ops.Dedup.appendFingerprintIndex(standing, dd)
          dd
        })
        graft.ops.Dedup.incrementalSpanScreen(s, dir,
          standing, all.filter(col("doc_id") % 25 === 0))
      }
    },
    // the SCD2 sink, measured: 6-batch in-order change-log maintenance
    // through the split sink (closed rows append once, the open rows
    // rewrite). A fresh state dir per invocation — cold and warm both pay
    // all 6 merges, so the entry times the sink over a growing history
    "scd2_sink_split" -> ((s, d) => {
      val dir = graft.sources.Scratch.dir("graft_scd2_sp_bench")
      val (batches, release) = scd2Batches(s, d)
      try batches.zipWithIndex.foreach { case (b, i) =>
        graft.streaming.EventsCdc.scd2MergeBatchSplit(s, dir,
          Seq("user_id"))(b, i.toLong)
      } finally release()
      graft.streaming.EventsCdc.scd2SplitState(s, dir)
    }))

  /** Builder-synthesized ×F document corpus for the span-family scale
    * curve (skew_join precedent: synthesized in-bench, measured every
    * round). Each replica r suffixes EVERY token with `x<r>`, so replicas
    * share no k-gram: the ×F corpus behaves like F independent corpora
    * with the original's gram-df and planted-dup structure — exactly the
    * ~linear-cost claim the banded/df-capped span family makes, which
    * these entries measure instead of assert (a hidden corpus-sized
    * window, collect or df-table rescan shows up as exponent > 1).
    * doc_ids offset far past the real id range per replica. The `x`
    * separator keeps the `$1<digit>` replacement unambiguous. */
  /** Replica id offset for the stress corpora. Guarded, not assumed:
    * [[assertIdHeadroom]] verifies (once per table dir, a footer-stat
    * scan) that the real id range sits below the offset — a larger-SF
    * corpus crossing 10M rows would otherwise silently collide replica
    * ids and corrupt the stress entries' dedup semantics (r18 ADVICE). */
  private val ReplicaOffset = 10000000L

  private val maxIdCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def assertIdHeadroom(df: DataFrame, idCol: String, key: String,
                               bound: Long = ReplicaOffset): Unit = {
    val mx: Long = maxIdCache.computeIfAbsent(s"$key/$idCol",
      _ => df.agg(org.apache.spark.sql.functions.max(
        org.apache.spark.sql.functions.col(idCol))).head().getLong(0))
    require(mx < bound,
      s"$key.$idCol max $mx >= replica offset $bound: stress replicas would collide")
  }

  private def stressDocs(s: SparkSession, d: String, factor: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    assertIdHeadroom(graft.sources.Tables.documents(s, d), "doc_id", s"$d/documents")
    graft.ops.Par.spread(graft.sources.Tables.documents(s, d))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(factor - 1))).as("r"))
      .select((col("doc_id") + col("r").cast("long") * ReplicaOffset).as("doc_id"),
        regexp_replace(col("text"), lit("(\\S+)"),
          concat(lit("$1x"), col("r").cast("string"))).as("text"))
  }

  /** ×F embedding corpus: each replica circular-shifts the dimensions by
    * r — an isometry, so every replica's internal geometry (norms, kNN
    * graph, covariance spectrum shape) is exactly the original's, while
    * cross-replica cosines are decorrelated. vec_ids offset per replica. */
  private def stressEmbeddings(s: SparkSession, d: String, factor: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    assertIdHeadroom(graft.sources.Tables.embeddings(s, d), "vec_id",
      s"$d/embeddings")
    graft.ops.Par.spread(graft.sources.Tables.embeddings(s, d))
      .select(col("vec_id"), col("embedding"), col("label"),
        explode(sequence(lit(0), lit(factor - 1))).as("r"))
      .select((col("vec_id") + col("r").cast("long") * ReplicaOffset).as("vec_id"),
        concat(
          slice(col("embedding"), col("r") + 1,
            size(col("embedding")) - col("r")),
          slice(col("embedding"), lit(1), col("r"))).as("embedding"),
        col("label"))
  }

  /** Scale-stress entries for the r11 families: the same operators the
    * registry verifies, run at a synthesized corpus multiple so the
    * measured scale EXPONENT (log time-ratio / log factor, vs the 1×
    * registry row) is a per-round regression gate, not a one-off note.
    * Factors are per-family: the span/PCA paths claim ~linear (×10/×4
    * keeps the bench affordable while separating exponent 1 from 2
    * unambiguously); the brute-force kNN graph is QUADRATIC by design —
    * its ×2 entry exists to keep that exponent measured and honest (the
    * documented scale path is the IVF index, benched separately). */
  private def stressExtras: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "exact_substr_spans_10x" -> ((s, d) =>
      graft.ops.Dedup.exactSubstrSpans(stressDocs(s, d, 10))),
    // steady-state screen at 10×: standing index builds once (cold call),
    // warm = the pure probe cost for a 4% arrival batch of the 10× corpus
    "span_screen_probe_10x" -> {
      val indexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        val all = stressDocs(s, d, 10)
        val standing = all.filter(col("doc_id") % 25 =!= 0)
        val dir = indexCache.computeIfAbsent(d, _ => {
          val dd = graft.sources.Scratch.dir("graft_fp_bench10x")
          graft.ops.Dedup.appendFingerprintIndex(standing, dd)
          dd
        })
        graft.ops.Dedup.incrementalSpanScreen(s, dir,
          standing, all.filter(col("doc_id") % 25 === 0))
      }
    },
    "embedding_pca_4x" -> ((s, d) =>
      graft.ops.Similarity.pcaPower(stressEmbeddings(s, d, 4))),
    // r13 block/chunk dedup family scale curves: token-salted replicas
    // share no block or chunk text, so ×F multiplies corpora without
    // faking cross-replica dups — the hash-only first-instance shuffle is
    // the claimed ~linear cost these entries measure rather than assert
    "block_dedup_10x" -> ((s, d) =>
      graft.ops.Dedup.blockDedup(stressDocs(s, d, 10))),
    "cdc_chunk_dedup_10x" -> ((s, d) =>
      graft.ops.Dedup.cdcChunkDedup(stressDocs(s, d, 10))),
    // containment at 4×: the contained-prefix × full-shingle-table join is
    // the quadratic-risk stage (candidates ∝ Σ df over prefixes); replicas
    // are df-independent so the honest expectation is ~linear — measured
    "containment_join_4x" -> ((s, d) =>
      graft.ops.Dedup.containmentJoin(stressDocs(s, d, 4))),
    "mutual_knn_clusters_2x" -> ((s, d) =>
      graft.ops.Dedup.clusters(
        graft.ops.Similarity.mutualKnn(stressEmbeddings(s, d, 2))
          .select("d1", "d2"))),
    // r14 containment-screen corpus curve: the SAME absolute arrival
    // batch (4% of the base corpus) probed against a 1× vs a 4× standing
    // index — the pair measures how the probe scales with CORPUS when the
    // batch is fixed. The compute is batch + candidate bounded; the
    // remaining corpus term is the hash-only index co-scan behind the
    // broadcast probes, so the honest expectation is well-sublinear in
    // corpus size (exponent vs the 1× row, the span_screen posture).
    "containment_screen_probe" -> containmentProbeEntry(1),
    "containment_screen_probe_4x" -> containmentProbeEntry(4),
    // r18: the two r17 operators' bound claims, measured instead of
    // asserted. fuzzy_block_dedup claims pair fan-out ≤ buckets × C(16,2)
    // — token-salted replicas share no blocks OR halves, so buckets grow
    // ~linearly and the honest expectation is ~linear
    "fuzzy_block_dedup_10x" -> ((s, d) =>
      graft.ops.Dedup.fuzzyBlockDedup(stressDocs(s, d, 10))),
    // host_dup_stats claims a |hosts|-bounded rollup behind hash-only dup
    // flags + one tokenize pass: replicas salt BOTH text (no cross-replica
    // dups) and source (|hosts| also ×10), so nothing amortizes — the
    // measured exponent covers the normalizer, the dup shuffle, the gate
    // and the rollup together
    "host_dup_stats_10x" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      assertIdHeadroom(graft.sources.Tables.documents(s, d), "doc_id",
        s"$d/documents")
      val docs = graft.ops.Par.spread(graft.sources.Tables.documents(s, d))
        .select(col("doc_id"), col("text"), col("source"),
          explode(sequence(lit(0), lit(9))).as("r"))
        .select((col("doc_id") + col("r").cast("long") * ReplicaOffset).as("doc_id"),
          regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1x"), col("r").cast("string"))).as("text"),
          concat(lit("https://www."), col("source"), lit("-r"),
            col("r").cast("string"), lit(".example.com/doc/"),
            col("doc_id").cast("string")).as("url"))
      graft.ops.Dedup.hostDupStats(docs)
    }),
    // r18 fact-side scale curve (the star/TPC-H families had no measured
    // exponent): ×10 lineitem/orders replicas against 1× dims through the
    // three star headliners — scan+agg (q1), the 4-way fact build
    // (fact_sales), and the LIKE-pruned profit rollup (q9)
    "q1_pricing_summary_10x" -> ((s, d) =>
      graft.queries.Analytics.q1Core(stressLineitem(s, d, 10))),
    "fact_sales_10x" -> ((s, d) =>
      graft.olap.StarSchema.factSales(stressLineitem(s, d, 10),
        stressOrders(s, d, 10).hint("shuffle_hash"), graft.sources.Tables.part(s, d),
        graft.sources.Tables.supplier(s, d))),
    "q9_product_profit_10x" -> ((s, d) =>
      graft.queries.TpchDeep.q9Core(stressLineitem(s, d, 10),
        graft.sources.Tables.part(s, d), stressOrders(s, d, 10).hint("shuffle_hash"),
        graft.sources.Tables.supplier(s, d),
        graft.sources.Tables.nation(s, d))),
    // r19 second decade (VERDICT r18 item 4): the ×10 exponents
    // (q1 0.70, fact_sales 0.31, q9 0.39) are flattered by fixed
    // per-stage overhead — a ×100 point (~60M lineitem replicas at
    // sf0.1, well inside 128 GiB) tells whether they hold or drift
    // toward 1 as the scan/shuffle term starts to dominate. Exponent vs
    // the ×10 row: log(t100/t10)/log(10).
    "q1_pricing_summary_100x" -> ((s, d) =>
      graft.queries.Analytics.q1Core(stressLineitem(s, d, 100))),
    // r20 third decade (r19 VERDICT item 10): at 32 cores BOTH earlier
    // decades are partly overhead-dominated (×10→×100 exponents well
    // under 1), so one ×1000-class point (~600M replica rows at sf0.1)
    // measures the true scan+agg slope. q1 only — it is scan+aggregate
    // with group-bounded output, so the row stays memory-safe at any
    // factor; a ×1000 fact JOIN would shuffle 600M×150M rows, which is
    // a different (cluster-sized) experiment, not a local scale probe.
    // Exponent vs the ×100 row: log(t1000/t100)/log(10).
    "q1_pricing_summary_1000x" -> ((s, d) =>
      graft.queries.Analytics.q1Core(stressLineitem(s, d, 1000))),
    "fact_sales_100x" -> ((s, d) =>
      graft.olap.StarSchema.factSales(stressLineitem(s, d, 100),
        stressOrders(s, d, 100).hint("shuffle_hash"), graft.sources.Tables.part(s, d),
        graft.sources.Tables.supplier(s, d))),
    "q9_product_profit_100x" -> ((s, d) =>
      graft.queries.TpchDeep.q9Core(stressLineitem(s, d, 100),
        graft.sources.Tables.part(s, d), stressOrders(s, d, 100).hint("shuffle_hash"),
        graft.sources.Tables.supplier(s, d),
        graft.sources.Tables.nation(s, d))),
    // r19 graph stress multiple (VERDICT r18 item 5): the graph family's
    // per-round join/iteration costs had asserted, not measured, scaling.
    // Replicas offset BOTH entity id spaces, so the ×10 graph is 10
    // disjoint isomorphic copies of the base co-purchase graph — node and
    // edge counts ×10, degree distribution unchanged — and the fixed-
    // iteration rank loop's claimed ~linear cost is measured, not assumed.
    "graph_pagerank_10x" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      assertIdHeadroom(graft.sources.Tables.orders(s, d), "o_custkey",
        s"$d/orders")
      assertIdHeadroom(graft.sources.Tables.supplier(s, d), "s_suppkey",
        s"$d/supplier")
      val pairs = graft.ops.Par.spread(graft.sources.Tables.lineitem(s, d))
        .select(col("l_orderkey"), col("l_suppkey"))
        .join(graft.sources.Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .withColumn("r", explode(sequence(lit(0), lit(9))))
        .select(
          ((col("o_custkey") + col("r").cast("long") * ReplicaOffset) * 2)
            .as("c"),
          ((col("l_suppkey") + col("r").cast("long") * ReplicaOffset) * 2 + 1)
            .as("s"))
        .distinct()
      // distinct by construction: pairs is distinct, branches' src
      // parities are disjoint — skip the operator's dedup exchange; the
      // union symmetrizes, so the node set comes free from out-degrees
      graft.ops.Graph.pageRank(
        pairs.select(col("c").as("src"), col("s").as("dst"))
          .union(pairs.select(col("s").as("src"), col("c").as("dst"))),
        iters = 3, edgesDistinct = true, symmetricEdges = true)
    }))

  /** Shared harness for the containment-probe pair: standing = the ×F
    * corpus minus the base-replica arrival slice; the index builds once
    * per (sf, factor) on the cold call, warm = the pure probe. */
  private def containmentProbeEntry(factor: Int): (SparkSession, String) => DataFrame = {
    val indexCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
    (s: SparkSession, d: String) => {
      import org.apache.spark.sql.functions.col
      // the arrival split keys on ids < ReplicaOffset, so the base-table
      // headroom matters at EVERY factor, including 1×
      assertIdHeadroom(graft.sources.Tables.documents(s, d), "doc_id",
        s"$d/documents")
      val all = if (factor == 1) graft.sources.Tables.documents(s, d)
                else stressDocs(s, d, factor)
      // base-replica ids are < 10M: the arrival slice is IDENTICAL for
      // every factor (same absolute batch), standing grows with ×F
      val isArrival = col("doc_id") < ReplicaOffset && col("doc_id") % 25 === 0
      val dir = indexCache.computeIfAbsent(s"$d/$factor", _ => {
        val dd = graft.sources.Scratch.dir(s"graft_cont_bench${factor}x")
        graft.ops.Dedup.appendContainmentIndex(all.filter(!isArrival), dd)
        dd
      })
      graft.ops.Dedup.incrementalContainmentScreen(s, dir, all.filter(isArrival))
    }
  }

  /** ×F lineitem: replicas land in disjoint order-key ranges (l_orderkey
    * offset r·10⁹) so the ×F orders twin joins replica-to-replica, while
    * part/supplier keys stay UNCHANGED — ×F facts against 1× dims, the
    * actual shape of fact growth at 100 TB (dims grow ~log of facts).
    * Group keys (returnflag/linestatus, order years, nations) are
    * replica-invariant, so aggregate outputs stay group-bounded and the
    * measured curve isolates the scan + shuffle cost. */
  private def stressLineitem(s: SparkSession, d: String, factor: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    assertIdHeadroom(graft.sources.Tables.lineitem(s, d), "l_orderkey",
      s"$d/lineitem", bound = 1000000000L)
    graft.ops.Par.spread(graft.sources.Tables.lineitem(s, d))
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("l_orderkey",
        col("l_orderkey") + col("__r").cast("long") * 1000000000L)
      .drop("__r")
  }

  /** ×F orders twin of [[stressLineitem]]: same o_orderkey offsets, so
    * every lineitem replica joins exactly its own orders replica.
    *
    * The SHUFFLE_HASH hint lives at the registry call sites, not here
    * (r19 ADVICE 3): a hint on the generator frame would force SHJ —
    * whose build side cannot spill to disk — into EVERY future join this
    * frame participates in, while the measured rationale only covers the
    * single lineitem⋈orders join. Why those sites hint at all: Catalyst's
    * size estimate for an explode is its CHILD's bytes, so the ×F frame
    * still "fits" under the broadcast threshold — at ×100 the planner
    * tried to broadcast ~15M orders rows and died with a build-side OOM
    * (the r19 round-start bench's one error). A 100 TB orders side could
    * never broadcast; the honest plan is a shuffled join, and the hash
    * variant (no sort of the ×F lineitem side) measured fastest at BOTH
    * decades (×10 5.1→2.8s, ×100 OOM→14.3s vs 22.6s sort-merge). */
  private def stressOrders(s: SparkSession, d: String, factor: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.ops.Par.spread(graft.sources.Tables.orders(s, d))
      .withColumn("__r", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("o_orderkey",
        col("o_orderkey") + col("__r").cast("long") * 1000000000L)
      .drop("__r")
  }

  /** The 6 in-order micro-batches the SCD2 sink bench entry replays,
    * plus the release handle the entry calls after the replay.
    *
    * The split frame is persisted LOCALLY and scoped to the entry — the
    * r19 formulation pinned it via InternalCaches and never released it,
    * and in full 32-core sessions that one giant single-partition block
    * thrashed the 24-entry LRU: the driver measured scd2_sink_split at
    * 30s warm vs 4.7s in r18 (r19 VERDICT item 1 / ADVICE 1). A
    * pin-free narrow-proxy formulation (boundary tuples from a 16-byte
    * (ts_us, event_id) window, batches as range filters over the raw
    * scan) was measured FIRST and rejected: without the cached frame
    * every merge action re-plans the batch from the scan with scan-sized
    * stats — 11.6s vs 5.2s warm for the full split replay
    * (OPTIMIZATION_r20.md §1).
    * The cache serves all six merges from one sort and dies with the
    * entry; cold and warm runs each honestly re-pay the sort. */
  private def scd2Batches(s: SparkSession, d: String)
      : (Seq[DataFrame], () => Unit) = {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
    val sixth = org.apache.spark.sql.functions.ntile(6)
      .over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts_us"), col("event_id")))
    val parts = ev.withColumn("__b", sixth).persist()
    ((1 to 6).map(i => parts.filter(col("__b") === i).drop("__b")),
      () => { parts.unpersist(blocking = false); () })
  }

  /** Builder-generated hot-key stress frame: 20M fact rows, HALF on one
    * key, the rest uniform over 200k keys at ~50 rows each; a 200k-row dim
    * that (with broadcast disabled, standing in for a dim too big to
    * broadcast at scale) forces a shuffled join — the shape where a plain
    * SMJ serializes half the data into one task. The testdata keys are
    * uniform, so this is where salting is actually SHOWN to win rather
    * than only proven result-identical. */
  private def skewFrames(s: SparkSession): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val fact = s.range(20L * 1000 * 1000).select(
      when(pmod(col("id"), lit(2L)) === 0, 0L)
        .otherwise(pmod(xxhash64(col("id")), lit(200000L))).as("key"),
      col("id").as("payload"))
    val dim = s.range(200000L)
      .select(col("id").as("key"), (col("id") * 7).as("attr"))
    (fact, dim)
  }

  /** Skew mitigation trio — MUST run after every other entry (they mutate
    * session conf, which dies with the bench session): the same hot-key
    * join planned three ways. `plain` = one task owns the hot key's 10M
    * rows; `salted` = [[graft.ops.Skew.saltedJoin]] splits it 32 ways
    * content-deterministically; `aqe` = Spark's runtime skew-join split.
    * Result sets are bit-identical (SamplingSkewSpec/AdversarialSpec pin
    * it) — only the wall time differs, which is the point. */
  private def skewExtras: Seq[(String, (SparkSession, String) => DataFrame)] = {
    def conf(s: SparkSession, skewJoin: Boolean): Unit = {
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewJoin.toString)
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    }
    Seq(
      "skew_join_plain" -> ((s: SparkSession, _: String) => {
        conf(s, skewJoin = false)
        val (fact, dim) = skewFrames(s); fact.join(dim, "key")
      }),
      "skew_join_salted" -> ((s: SparkSession, _: String) => {
        conf(s, skewJoin = false)
        val (fact, dim) = skewFrames(s)
        graft.ops.Skew.saltedJoin(fact, dim, "key", salts = 32)
      }),
      "skew_join_aqe" -> ((s: SparkSession, _: String) => {
        conf(s, skewJoin = true)
        val (fact, dim) = skewFrames(s); fact.join(dim, "key")
      }))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // --only=a,b,c (or --only a,b,c) restricts the run to the named entries
    // so a contention-suspect query can be re-measured in seconds; unknown
    // names fail loudly rather than silently benching nothing
    val only: Option[Set[String]] = {
      val joined = args.mkString(" ")
      val parsed =
        "--only[= ]([^ ]+)".r.findFirstMatchIn(joined).map(_.group(1).split(',').toSet)
      // a malformed '--only=' (flag present, value empty) must NOT silently
      // fall through to a full run — that overwrites the committed
      // bench_out.json, the exact clobbering --only exists to prevent
      require(!joined.contains("--only") || parsed.exists(_.exists(_.nonEmpty)),
        "--only flag given without query names (use --only=name1,name2)")
      parsed
    }
    val spark = GraftSession.get("graft-bench")
    // absorb one-time session costs (scheduler init, noop committer,
    // codegen compiler warmup) so they don't land on the first query
    spark.range(1000).selectExpr("sum(id) AS s")
      .write.format("noop").mode("overwrite").save()

    // Ambient-speed gauge, stamped into the record: q1_pricing_summary
    // (cold then warm, warm reported) against its blessed 1.558s — code
    // that never changes, so gauge/baseline reads the HOST's speed that
    // minute, not the diff's. A record whose entries trip while the gauge
    // itself reads >1.3-1.5x is a contended-host artifact, not a
    // regression (every r16/r17 judge re-derived exactly this by hand;
    // tools/bench_gate.py now prints gauge-normalized ratios next to raw
    // ones). The pre-run warms q1's plan cache, so the main loop's q1
    // "cold" time is plan-warm — cold_total is informational only.
    val gaugeBaseline = 1.558
    val gauge: Double = {
      def g(): Double =
        try {
          val t0 = System.nanoTime()
          graft.queries.Analytics.q1PricingSummary(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case _: Throwable => -1.0 }
      val coldG = g()
      if (coldG < 0) -1.0 else g()
    }

    val all = SparkEntry.registry.map(q => q.name -> q.run) ++ extras ++
      stressExtras ++ skewExtras
    val entries = only match {
      case None => all
      case Some(names) =>
        val known = all.map(_._1).toSet
        val unknown = names -- known
        require(unknown.isEmpty, s"--only names not in the bench registry: ${unknown.toSeq.sorted.mkString(", ")}")
        all.filter { case (n, _) => names(n) }
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val cold = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val warm = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def once(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        // noop sink materializes every output column (count() would let
        // Catalyst prune projections and drop sorts, under-measuring
        // map-heavy queries)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case t: Throwable =>
          errors.getOrElseUpdate(name,
            t.getClass.getName + ": " + Option(t.getMessage).getOrElse("").take(300))
          -1.0
      }
    }

    entries.foreach { case (name, fn) =>
      cold(name) = once(name, fn)
      warm(name) = if (cold(name) < 0) -1.0 else once(name, fn)
    }

    // a partial total would read as "faster than a green run" — report -1
    // for the headline when anything failed (per-query warm times remain)
    val total = if (errors.nonEmpty) -1.0 else warm.values.sum
    val coldTotal = if (errors.nonEmpty) -1.0 else cold.values.sum
    val qs = jmap(warm.toSeq.map { case (k, v) => k -> v.toString })
    val cs = jmap(cold.toSeq.map { case (k, v) => k -> v.toString })
    val es = jmap(errors.toSeq.map { case (k, v) => k -> JsonEscape.str(v) })
    // the HEAD commit ties a recorded bench line to the exact sources it
    // measured (best-effort: absent outside a git checkout)
    val commit = try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").start()
      val sha = new String(p.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (p.waitFor() == 0 && sha.nonEmpty) sha else "unknown"
    } catch { case _: Exception => "unknown" }
    // field order is deliberate: the big per-query maps come FIRST and the
    // scalar headline (metric/value/totals/errors/sf/commit) LAST, so a
    // recorder that keeps only the tail of stdout (the driver truncates to
    // 2000 chars) still retains every headline number — r10's recorded
    // bench lost its warm map AND total to exactly that truncation
    val line = s"""{"queries":$qs,"cold":$cs,"errors":$es,"metric":"total","value":$total,"unit":"sec","partial":${errors.nonEmpty},"n_errors":${errors.size},"warm_total":$total,"cold_total":$coldTotal,"cold_is_plan_warm":true,"n_entries":${entries.size},"gauge":{"q1":$gauge,"baseline":$gaugeBaseline},"commit":${JsonEscape.str(commit)},"sf":${JsonEscape.str(sfDir)}}"""
    println(line)
    // stdout capture can truncate to a tail (r4 lost the whole warm map that
    // way) — also persist the full line next to the sources. A filtered
    // --only run is a spot measurement: it must not overwrite the committed
    // full-coverage bench_out.json, so it lands in bench_only.json instead.
    val outFile = if (only.isDefined) "bench_only.json" else "bench_out.json"
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: java.io.IOException => () /* read-only cwd: stdout only */ }
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
