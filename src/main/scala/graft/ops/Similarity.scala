package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.FileFormats

/** Approximate-nearest-neighbor and embedding near-dup operators over an
  * `array<float>` embedding column.
  *
  * Brute-force top-k is the exactness baseline; sign-random-projection LSH
  * (Charikar'02) is the 100 TB scale path: candidates via an equality join on
  * (band, r-bit band value), exact cosine verification on the deduped
  * candidate set only — never the n² pair space, and never vectors through
  * the candidate shuffle (bands carry ids + a bigint per band; vectors are
  * re-attached after candidate dedup).
  *
  * Tuning: a pair at cosine s collides in one r-bit band with probability
  * p^r, p = 1 - acos(s)/π, and survives b bands with 1-(1-p^r)^b. The
  * defaults (b=32, r=12 → 4096 buckets/band) give recall ≈ 0.995 at s=0.9
  * and ≈ 0.79 at s=0.8 — tuned for true near-duplicates. Recall at low
  * similarity (s≈0.4) is intentionally small: distinguishing cos 0.4 from
  * the random-pair background (cos ≈ 0 ± 1/√dim) without scanning most pairs
  * is not information-theoretically possible for sublinear LSH; callers who
  * need exhaustive low-threshold output should use the brute-force/all-pairs
  * operators. r should grow ~log₂(n) to hold candidate counts at O(n·b).
  *
  * Hyperplanes are Rademacher ±1 (sign-random-projection is distribution-
  * free for symmetric entries), generated from a seeded PRNG and embeddable
  * as literals — which lets an external engine (the DuckDB oracle) replay
  * the exact same banding, making the whole pipeline cross-engine
  * verifiable, not just rows-counted.
  */
object Similarity {

  /** Vectors with embedding cast to double and L2 norm precomputed once.
    * Deliberately NOT routed through [[Par.spread]]: prepared frames are
    * LAZY and re-derived by several plan branches in most consumers (8×
    * in lshBandsCurve), so a head spread multiplies its exchange per
    * derivation — measured r19: dedup_embedding 0.48→1.23, ivf_recall
    * 1.8→3.0, knn_ivf_disk 2.2→3.3 WITH the head spread. Spread lives
    * only at single-consumer sites ([[knnBruteForce]]'s data side,
    * [[covPartials]]) and ahead of pinned frames (Pq.subvectors). */
  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))

  /** Exact brute-force cosine top-k: the (small) query set is broadcast and
    * every data partition scores its vectors locally; the bounded top-k
    * aggregate keeps at most k pairs per query per partial, so the shuffle
    * carries at most numPartitions × |queries| × k rows, never the full
    * |queries| × n score matrix.
    *
    * Deterministic: ties broken by the smaller neighbor id.
    */
  def knnBruteForce(embeddings: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    // Par.spread: the all-pairs cosine scoring is the corpus scan stage's
    // per-row work — single-task on a one-row-group input — and `data` has
    // exactly ONE consumer here, so the guarded exchange is paid once (r19)
    val data = prepared(Par.spread(embeddings))
    val q = prepared(queries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = data.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePrenormed(col("emb"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Top principal component of the embedding corpus by power iteration —
    * the anisotropy diagnostic embedding pipelines run before trusting
    * cosine geometry: a high explained-variance ratio means the space has
    * collapsed toward one dominant direction (the "narrow cone" pathology)
    * and cosine scores mostly measure that direction, not content; the
    * mean vector and PC1 loadings are exactly what post-processing
    * (mean-centering, all-but-the-top removal) subtracts.
    *
    * Scale shape: the ONLY corpus-sized work is one scan that explodes
    * each vector into its d(d+1)/2 upper-triangle products plus d mean
    * terms, partially aggregated map-side into DECIMAL(38,6) sums (exact,
    * order-free — the floating sums that would make this
    * engine/partition-dependent never happen). Everything after — the
    * covariance assembly, `iters` power steps, the Rayleigh quotient —
    * runs on the d×d matrix on the driver (dimension-bounded, the BPE
    * argmax posture; d=64 here). Determinism end to end: fixed v₀ = 1⃗,
    * fixed ascending-index summation order, IEEE-exact decimal→double
    * reads — any engine reproduces the identical loadings, which the
    * unrolled DuckDB oracle checks bit-for-bit.
    *
    * Degenerate inputs: an EMPTY corpus refuses loudly (no silent NaN
    * frame); a ZERO-VARIANCE corpus (constant vectors) yields NaN
    * loadings/eigenvalue/ratio with cov_trace exactly 0 — the honest
    * IEEE reading of "there is no principal direction" (0⃗ cannot
    * normalize), spec-pinned; gate on cov_trace > 0 upstream.
    *
    * @return d rows: (dim, mean, pc1_loading, eigenvalue, cov_trace,
    *         explained_ratio) — eigenvalue/trace/ratio repeated per row */
  /** The distributed half of [[pcaPower]], factored out so a STREAM can
    * maintain it: exact DECIMAL(38,6) sums of every upper-triangle
    * product (i, j), every mean term (i, −1) and the row count (−1, −1).
    * The sums are ADDITIVE across disjoint vector batches — per-batch
    * partials sum to the corpus value exactly (decimal, no float
    * reduction order), which is what lets
    * [[graft.streaming.StateSink.run]] keep a standing partials table by
    * blind batch-tagged appends. Replay: sums add, so a redelivered
    * batch counts twice. */
  def covPartials(embeddings: DataFrame): DataFrame =
    // one d²-bounded buffer per partition ([[graft.functions.CovPartialsAgg]])
    // instead of exploding every vector into its d(d+1)/2 + d + 1 struct
    // rows before the hash aggregate — same exact decimal(38,6) cells
    // (SimilaritySpec pins table equality with the explode form), zero row
    // amplification, and an empty batch yields an empty (correctly-typed)
    // frame with no driver-side probe action (the streaming maintenance
    // runs this per micro-batch)
    // Par.spread: the d²-per-row decimal accumulation is this operator's
    // entire corpus-sized cost and it runs in the scan stage's partial
    // aggregate — single-task on a one-row-group input (r19: 2.8→0.5s at
    // 1×, 9.5→1.1s at ×4 measured). Empty/small streaming micro-batches
    // pass through the same guard at ~ms cost.
    Par.spread(embeddings).select(toDouble(col("embedding")).as("emb"))
      .agg(graft.functions.CovPartials.covPartialsAgg(col("emb")).as("cells"))
      .select(explode(col("cells")).as("t"))
      .select(col("t.i").as("i"), col("t.j").as("j"), col("t.s").as("s"))

  /** PCA read over a STANDING covariance-partials table (written by the
    * streaming maintenance or a batch [[covPartials]] dump): partials
    * sum per (i, j) — decimal, exact, so the result equals the batch
    * [[pcaPower]] over everything absorbed, bit for bit. */
  def pcaFromTable(spark: org.apache.spark.sql.SparkSession, dir: String,
                   iters: Int = 8): DataFrame =
    pcaFromSums(spark, FileFormats.readParquet(spark, dir)
      .groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast("decimal(38,6)").as("s")), iters)

  def pcaPower(embeddings: DataFrame, iters: Int = 8): DataFrame =
    pcaFromSums(embeddings.sparkSession, covPartials(embeddings), iters)

  private def pcaFromSums(spark: org.apache.spark.sql.SparkSession,
                          partials: DataFrame, iters: Int = 8): DataFrame = {
    import spark.implicits._
    val (mean, vv, lam, tr) = pcaSolve(partials, iters)
    val d = mean.length
    (0 until d).map(i => (i.toLong, mean(i), vv(i), lam, tr, lam / tr))
      .toDF("dim", "mean", "pc1_loading", "eigenvalue", "cov_trace",
        "explained_ratio")
  }

  /** Driver-side solve shared by [[pcaFromSums]] and
    * [[removeTopComponent]]: (mean, pc1, eigenvalue, trace). */
  private def pcaSolve(partials: DataFrame,
                       iters: Int): (Array[Double], Array[Double], Double, Double) = {
    val sums = partials
      // a NULL cell = every term was non-finite (Cast→NULL, sum of NULLs;
      // see CovPartialsAgg) — read it as NaN so a poisoned dimension
      // degrades to NaN loadings (the zero-variance posture: gate on
      // cov_trace upstream) instead of an NPE in the solve
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) Double.NaN else r.getDecimal(2).doubleValue)).toMap
    require(sums.nonEmpty,
      "PCA over an empty embedding corpus — no covariance partials exist")
    val d = sums.keys.map(_._1).max + 1
    val nd = sums((-1, -1))
    val mean = Array.tabulate(d)(i => sums((i, -1)) / nd)
    // the mirrored (i > j) entry reuses the upper-triangle VALUE — not the
    // formula with operands swapped: (n·mᵢ)·mⱼ and (n·mⱼ)·mᵢ round
    // differently by an ulp, and the oracle mirrors values
    val cov = Array.tabulate(d, d) { (i, j) =>
      val (a, b) = if (i <= j) (i, j) else (j, i)
      (sums((a, b)) - nd * mean(a) * mean(b)) / nd
    }
    def matVec(x: Array[Double]): Array[Double] =
      Array.tabulate(d) { i =>
        var s = 0.0; var j = 0
        while (j < d) { s += cov(i)(j) * x(j); j += 1 }
        s
      }
    var vv = Array.fill(d)(1.0)
    for (_ <- 1 to iters) {
      val w = matVec(vv)
      var n2 = 0.0; var i = 0
      while (i < d) { n2 += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(n2)
      vv = w.map(_ / nrm)
    }
    val cv = matVec(vv)
    var lam = 0.0
    var li = 0
    while (li < d) { lam += cv(li) * vv(li); li += 1 }
    var tr = 0.0
    var ti = 0
    while (ti < d) { tr += cov(ti)(ti); ti += 1 }
    (mean, vv, lam, tr)
  }

  /** All-but-the-top correction — mean-center every vector and project
    * out the [[pcaPower]] top component, reporting per vector the PC1
    * coordinate and the centered/residual norms (the before/after an
    * anisotropy fix is judged by; a vector whose norm is mostly PC1 was
    * riding the dominant direction, not content). The d-sized mean and
    * loading vectors come off the driver solve and embed as LITERALS in
    * a codegen'd fold — the corpus pass is one scan, no join, no
    * shuffle. Fold order is ascending-index (`aggregate` over `zip_with`)
    * to stay bit-identical with the oracle's `list_sum`. */
  def removeTopComponent(embeddings: DataFrame, iters: Int = 8): DataFrame = {
    val (mean, vv, _, _) = pcaSolve(covPartials(embeddings), iters)
    val mLit = array(mean.map(lit).toIndexedSeq: _*)
    val vLit = array(vv.map(lit).toIndexedSeq: _*)
    val c = zip_with(toDouble(col("embedding")), mLit, (x, m) => x - m)
    def dotFold(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    embeddings
      .select(col("vec_id"), c.as("c"))
      .select(col("vec_id"), col("c"), dotFold(col("c"), vLit).as("pc1_coord"))
      .select(col("vec_id"), col("pc1_coord"),
        sqrt(dotFold(col("c"), col("c"))).as("norm_centered"),
        sqrt(dotFold(
          zip_with(col("c"), vLit, (ci, vi) => ci - col("pc1_coord") * vi),
          zip_with(col("c"), vLit, (ci, vi) => ci - col("pc1_coord") * vi)))
          .as("norm_residual"))
  }

  /** Corpus-wide k-NN graph — EVERY vector is a query: the substrate
    * graph-based curation builds on (SemDeDup-style cluster pruning,
    * graph clustering, connectivity diagnostics all start from "each
    * item's k nearest"). Same bounded top-k machinery as
    * [[knnBruteForce]]; the corpus broadcasts to itself, so this exact
    * form is the small/medium-corpus and oracle-verification path — at
    * index scale, run the SAME shape through the IVF lists
    * ([[graft.ops.Ivf.searchIndex]] with queries = all vectors), which
    * replaces the all-pairs score with per-list locality. */
  def knnGraph(embeddings: DataFrame, k: Int = 5): DataFrame =
    knnBruteForce(embeddings, embeddings, k)

  /** Mutual k-NN edges — the graph pruning that keeps an edge only when
    * BOTH endpoints rank each other in their top-k: the standard
    * symmetrization that strips hub vectors (a hub appears in thousands
    * of top-k lists but reciprocates few — mutuality is the cheap hub
    * filter). Output one undirected row (d1 < d2) with the cosine. The
    * directed graph is corpus×k-sized and feeds both the edge and the
    * reciprocity probes, so it persists — both branches read the cached
    * InMemoryRelation and the all-pairs scoring runs once, but merely
    * ANALYZING a plan that embeds this operator (the SQL-surface
    * resolution rule invokes it at analysis time — EXPLAIN included)
    * launches no jobs (r13 ADVICE; ExtensionsSpec pins the
    * no-jobs-at-explain contract). persist(), not localCheckpoint: under
    * AQE even a LAZY checkpoint builds the RDD at construction time,
    * which executes the kNN stages eagerly. */
  def mutualKnn(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val g = InternalCaches.persistBounded(knnGraph(embeddings, k)
      .select(col("query_id"), col("neighbor_id"), col("cos")))
    val e = g.select(col("query_id").as("d1"), col("neighbor_id").as("d2"),
        col("cos"))
      .filter(col("d1") < col("d2"))
    val back = g.select(col("neighbor_id").as("d1"), col("query_id").as("d2"))
      .filter(col("d1") < col("d2"))
    e.join(back, Seq("d1", "d2"), "left_semi")
  }

  /** Semi-supervised label propagation over the [[mutualKnn]] graph (Zhu &
    * Ghahramani '02, the hard-clamp discrete variant): seed vectors
    * (vec_id % seedMod == 0) keep their label; every other vector runs
    * `rounds` SYNCHRONOUS updates — each round it adopts the majority label
    * among its neighbors' previous-round labels (ties to the smallest
    * label; keeps its previous label when no neighbor is labeled yet).
    * Output: per vector, the seed flag, the propagated label (NULL if never
    * reached), and agreement with the held-out true label — the eval a
    * curation pipeline uses to decide whether cheap labels can replace a
    * classifier on the unlabeled pool.
    *
    * Scale shape: the mutual-kNN edge list is corpus×k-bounded and
    * hub-stripped by construction; each round is one id-only edge join plus
    * a (node,label) count aggregate (map-side combined, ≤ #labels rows per
    * node) and a per-node top-1 — no vectors, no text, no n² anywhere past
    * the banded/bounded kNN build. Rounds are a fixed small constant
    * (diffusion depth), not a convergence loop. A NULL-label seed votes
    * nothing (its clamp value IS null, and null votes are filtered), so
    * NULL labels degrade to "fewer seeds", never to propagating null as
    * a label — AdversarialSpec-pinned. */
  def labelPropagate(embeddings: DataFrame, k: Int = 5, seedMod: Int = 5,
                     rounds: Int = 2): DataFrame = {
    val edges = mutualKnn(embeddings, k).select(col("d1"), col("d2"))
    val dir = InternalCaches.persistBounded(edges
      .union(edges.select(col("d2").as("d1"), col("d1").as("d2"))))
      // reused every round. persist (lazy, LRU-bounded — InternalCaches),
      // not checkpoint: analyzing / EXPLAINing a
      // graft_label_propagation SQL call must run no jobs.
    var lab = embeddings.select(col("vec_id"), col("label"),
        (pmod(col("vec_id"), lit(seedMod.toLong)) === 0).as("is_seed"))
      .withColumn("cur", when(col("is_seed"), col("label")))
    val byNode = Window.partitionBy(col("d1"))
      .orderBy(col("n").desc, col("nl"))
    for (_ <- 1 to rounds) {
      val votes = dir
        .join(lab.select(col("vec_id").as("d2"), col("cur").as("nl"))
                 .filter(col("nl").isNotNull), Seq("d2"))
        .groupBy(col("d1"), col("nl")).agg(count(lit(1)).as("n"))
      val won = votes.withColumn("rk", row_number().over(byNode))
        .filter(col("rk") === 1)
        .select(col("d1").as("vec_id"), col("nl").as("voted"))
      lab = lab.join(won, Seq("vec_id"), "left")
        .withColumn("cur", when(col("is_seed"), col("label"))
          .otherwise(coalesce(col("voted"), col("cur"))))
        .drop("voted")
    }
    lab.select(col("vec_id"), col("is_seed"), col("cur").as("pred_label"),
      (col("cur").isNotNull && col("cur") === col("label")).as("agrees"))
  }

  /** Triangle census of the [[mutualKnn]] graph: per vector its degree,
    * triangle count, and local clustering coefficient 2T/(deg·(deg−1)) —
    * the community-structure diagnostic (a clustered corpus closes its
    * wedges; hub-free noise doesn't). Triangles enumerate by the standard
    * ordered edge-join (a<b ⋈ b<c, semi-joined against a<c), each found
    * exactly once. The mutual graph's degree is ≤ k BY CONSTRUCTION (an
    * edge needs both endpoints' top-k), so every join bucket is k-bounded
    * — the skewed-hub case that forces degree-ordering tricks in general
    * triangle counting cannot occur here. Vectors with no mutual edge
    * report degree 0, cc 0.0 (defined, not NULL/NaN). */
  def graphTriangles(embeddings: DataFrame, k: Int = 5): DataFrame = {
    val e = InternalCaches.persistBounded(
      mutualKnn(embeddings, k).select(col("d1"), col("d2")))
      // feeds the 3-way triangle join + the degree; persist for the
      // same no-jobs-at-analysis reason as [[mutualKnn]]
    val dir = e.union(e.select(col("d2").as("d1"), col("d1").as("d2")))
    val deg = dir.groupBy(col("d1").as("vec_id"))
      .agg(count(lit(1)).as("degree"))
    val tri = e.toDF("a", "b")
      .join(e.toDF("b", "c"), "b")
      .join(e.toDF("a", "c"), Seq("a", "c"), "left_semi")
    val tcount = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("triangles"))
    embeddings.select(col("vec_id"))
      .join(deg, Seq("vec_id"), "left")
      .join(tcount, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("local_cc",
        when(col("degree") >= 2,
          (col("triangles") * 2).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Johnson-Lindenstrauss sign random projection (Achlioptas '01 dense
    * ±1 variant): project `inDims`-dim embeddings to `outDims` dims with
    * r_ij = ±1/√outDims, the sign drawn from the parity of
    * md5("rp:i:j") — a PORTABLE derivation (same hex bytes in any engine,
    * no RNG state), so retries, replans, and the oracle all see the same
    * matrix. The matrix is dimension-bounded (inDims×outDims), computed
    * once driver-side and folded into the plan as literals — each output
    * coordinate is one codegen'd left-to-right dot product, so projecting
    * 100 TB is a pure map pass (zero shuffles, zero state). Output long
    * form: (vec_id, dim, y). Every float op runs in ascending-index order
    * from 0.0 — the cross-engine exactness recipe — so values hash-match
    * the oracle bit-for-bit. */
  def randomProjection(embeddings: DataFrame, outDims: Int = 16,
                       inDims: Int = 64): DataFrame = {
    val proj = projectWide(embeddings, outDims, inDims)
    proj.select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "dim", "y")
  }

  /** The wide (vec_id, embedding: array<double>) form of
    * [[randomProjection]] — the shape downstream kNN reuses. */
  def projectWide(embeddings: DataFrame, outDims: Int, inDims: Int): DataFrame = {
    val scale = 1.0 / math.sqrt(outDims.toDouble)
    def sign(i: Int, j: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$i:$j".getBytes("UTF-8"))
      if ((d(15) & 1) == 1) -scale else scale
    }
    val emb = toDouble(col("embedding"))
    val coords = (0 until outDims).map { j =>
      dot(emb, array((0 until inDims).map(i => lit(sign(i, j))): _*))
    }
    embeddings.select(col("vec_id"), array(coords: _*).as("embedding"))
  }

  /** Retrieval-quality eval of the projected space ([[randomProjection]]):
    * overall recall@k of projected-space exact top-k against full-space
    * exact top-k — the number that decides whether the cheap 4×-smaller
    * index is usable (ann_recall discipline: the measured answer, however
    * unflattering). One row: n_queries, k, hits, recall. */
  def rpKnnRecall(embeddings: DataFrame, outDims: Int = 16, k: Int = 5): DataFrame =
    reducedRecall(embeddings, projectWide(embeddings, outDims, 64), k)

  /** Matryoshka-style truncation eval: recall@k of exact top-k computed on
    * the FIRST `dims` coordinates against full-space exact top-k — the
    * other standard cheap-index path next to [[rpKnnRecall]]'s JL
    * projection (truncation is free but only works when the embedding was
    * trained nested; the projection works on any embedding but costs a
    * map pass — this pair of entries is how a pipeline decides). */
  def truncationRecall(embeddings: DataFrame, dims: Int = 16, k: Int = 5): DataFrame =
    reducedRecall(embeddings,
      embeddings.select(col("vec_id"),
        slice(toDouble(col("embedding")), 1, dims).as("embedding")), k)

  /** Shared harness: overall recall@k of the reduced space's exact top-k
    * against the full space's. One row: n_queries, k, hits, recall. The
    * denominator is the ACTUAL full-space graph row count, not
    * n_queries·k — on a corpus of k or fewer vectors each query has
    * fewer than k true neighbors, and the n·k denominator would cap
    * recall below 1.0 even when the reduced space retrieves the full
    * graph exactly (r13 ADVICE; SimilaritySpec pins the tiny-corpus
    * case). At corpus > k the two denominators coincide, so the
    * registry oracles are unchanged in value. */
  private def reducedRecall(embeddings: DataFrame, reduced: DataFrame,
                            k: Int): DataFrame = {
    // the full-space graph feeds BOTH the hit semi-join and the
    // denominator aggregate — two plan branches; pinned (corpus×k id
    // rows) so the brute-force scoring runs once per invocation, the
    // mutualKnn discipline (r19 — this was truncation_recall's ~1.7×
    // isolated-vs-blessed trip: isolated runs re-paid the kNN build)
    val full = InternalCaches.persistBounded(
      knnGraph(embeddings, k).select(col("query_id"), col("neighbor_id")))
    val red = knnGraph(reduced, k).select(col("query_id"), col("neighbor_id"))
    val hits = full.join(red, Seq("query_id", "neighbor_id"), "left_semi")
    full.agg(countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_full")).crossJoin(
        broadcast(hits.agg(count(lit(1)).as("hits"))))
      .select(col("n_queries"), lit(k).as("k"), col("hits"),
        (col("hits").cast("double") /
          col("n_full").cast("double")).as("recall"))
  }

  /** Hard-negative mining for contrastive training — per query vector,
    * the top-k HIGHEST-cosine vectors carrying a DIFFERENT label: the
    * semantically-near-but-wrong-class examples a retrieval/embedding
    * trainer wants in each batch (easy negatives are random vectors; the
    * informative ones are these near-misses). Same bounded-state shape
    * as [[knnBruteForce]]: queries broadcast, per-partition local
    * scoring, O(k) top-k aggregate state per query — the shuffle never
    * carries the score matrix. The different-label join predicate
    * subsumes self-exclusion (a vector has one label). Rows with a NULL
    * label never pair (null-propagating inequality) — curate labels
    * first. Ties break to the smaller neighbor id. */
  def hardNegatives(embeddings: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val data = embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"), col("label"))
      .withColumn("nrm", norm(col("emb")))
    val q = queries
      .select(col("vec_id").as("query_id"),
        toDouble(col("embedding")).as("q_emb"), col("label").as("q_label"))
      .withColumn("q_nrm", norm(col("q_emb")))
    val scored = data.join(broadcast(q), col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePrenormed(col("emb"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** Per-query top-k through the bounded [[graft.functions.TopKAggregate]]
    * aggregate: partial state is AT MOST k (cos, id) pairs per query at
    * every stage — map-side partials, the shuffle, and the final merge.
    * (The composed collect_list→sort→slice formulation buffers every scored
    * row of a partition per query before slicing: an OOM on the billion-row
    * partitions this operator exists for.) */
  private[ops] def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topKBy(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"), col("col.cos").as("cos"))

  /** Deterministic Rademacher (±1) hyperplane matrix — the plane list both
    * the Spark plan and the cross-engine oracle SQL embed. */
  def planeMatrix(planes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(planes)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /** (id, band, band_val) triples: the signature split into `bands` bands of
    * `rows` sign bits, each band packed into one bigint (so the candidate
    * join key is a plain integer any engine reproduces — no engine-specific
    * hash). The planes×dim dot-product loop runs in the native codegen'd
    * [[graft.functions.NativeExpressions.SrpBandValues]] expression — the
    * higher-order-function formulation is CodegenFallback and costs ~ms per
    * vector at 384 planes. */
  private def bandValues(prepped: DataFrame, idCol: String,
                         bands: Int, rows: Int, planes: Seq[Seq[Double]]): DataFrame =
    prepped
      .select(col(idCol),
        posexplode(graft.functions.NativeExpressions.srpBandValues(col("emb"), planes, rows)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")

  /** Random-hyperplane LSH ANN: equality join on (band, band_val) generates
    * candidates (ids only), candidates are deduped, vectors re-attached, and
    * exact cosine ranks the survivors per query. See the class doc for the
    * recall model; queries whose true neighbors sit near the random-pair
    * background will see approximate results — that is the ANN contract. */
  def knnLsh(embeddings: DataFrame, queries: DataFrame, k: Int = 5,
             bands: Int = 32, rows: Int = 12, dim: Int = 64, seed: Long = 42L): DataFrame = {
    val planes = planeMatrix(bands * rows, dim, seed)
    val data = prepared(embeddings)
    val q = prepared(queries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    val dataBands = bandValues(data, "vec_id", bands, rows, planes)
    val qBands = bandValues(
      q.select(col("query_id"), col("q_emb").as("emb")), "query_id", bands, rows, planes)
    val candidates = dataBands.join(broadcast(qBands), Seq("band", "band_val"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
      .dropDuplicates("query_id", "vec_id")
    val scored = candidates
      .join(data, "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePrenormed(col("emb"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    topKPerQuery(scored, k)
  }

  /** SRP banding-design sweep — the (bands × rows) read for the sign-LSH
    * index, the embedding-space twin of the MinHash banding curve: at a
    * fixed plane budget (every scheme shares the SAME bands·rows
    * Rademacher matrix; only the split varies), each scheme's recall@k of
    * the banded-candidate top-k against the exact brute-force top-k, plus
    * the candidate volume the scheme pays (the LSH cost — every candidate
    * is one exact cosine). Longer bands collide less, so recall and cost
    * fall together; where the curve crosses the deployment's recall floor
    * is the layout decision `ann_recall` reads at one point. The truth
    * ranks ONCE (LRU-persisted — it is knn_bruteforce's intended BNLJ,
    * the count summaries its two 1-row crossJoins); per scheme candidates
    * generate id-only from the equality band join and only survivors are
    * scored. */
  def lshBandsCurve(embeddings: DataFrame, queries: DataFrame,
                    schemes: Seq[(Int, Int)] =
                      Seq((12, 4), (8, 6), (6, 8), (4, 12)),
                    k: Int = 5, dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(schemes.map { case (b, r) => b * r }.distinct.size == 1,
      "schemes must share one plane budget")
    val planes = planeMatrix(schemes.head._1 * schemes.head._2, dim, seed)
    val truth = InternalCaches.persistBounded(
      knnBruteForce(embeddings, queries, k)
        .select(col("query_id"), col("neighbor_id")))
    val tot = truth.agg(countDistinct(col("query_id")).as("n_queries"),
      count(lit(1)).as("n_truth"))
    val data = prepared(embeddings)
    val q = prepared(queries).select(col("vec_id").as("query_id"),
      col("emb").as("q_emb"), col("nrm").as("q_nrm"))
    // ONE-PASS sweep (r20, guide §2.4): the r19 shape ran, PER scheme, a
    // full srpBandValues pass (all budget×dim dot products again — the
    // schemes share one plane matrix, only the band SPLIT differs), a
    // candidate join with its own pin, a top-k aggregate and two count
    // summaries — ~20 plan branches and 4 LRU pins for 4 schemes, with
    // `prepared` re-derived 8×. Now the budget's sign bits are computed
    // ONCE (rows=1 band values ARE the raw signs) and each scheme's band
    // keys are derived by arithmetic packing of sign slices — identical
    // values to the per-scheme srpBandValues by construction (same
    // plane order, same acc*2+bit fold). One candidate join keyed by
    // (scheme, band, band_val), one pinned candidate frame, one top-k
    // aggregate keyed (scheme, query), one truth join — bit-identical
    // outputs.
    def bandsAll(src: DataFrame, idCol: String): DataFrame =
      src
        .select(col(idCol),
          graft.functions.NativeExpressions.srpBandValues(col("emb"), planes, 1)
            .as("sg"))
        .select(col(idCol),
          explode(array(schemes.map { case (_, r) => lit(r) }: _*)).as("rws"),
          col("sg"))
        .select(col(idCol), col("rws"),
          posexplode(transform(
            sequence(lit(0), (lit(planes.length) / col("rws")).cast("int") - 1),
            bi => aggregate(
              slice(col("sg"), bi * col("rws") + 1, col("rws")),
              lit(0L), (acc, x) => acc * 2 + x))))
        .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_val")
    val cand = InternalCaches.persistBounded(
      bandsAll(data, "vec_id")
        .join(broadcast(bandsAll(
          q.select(col("query_id"), col("q_emb").as("emb")), "query_id")),
          Seq("rws", "band", "band_val"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("rws"), col("query_id"), col("vec_id"))
        .dropDuplicates("rws", "query_id", "vec_id"))
    val approx = cand.join(data, "vec_id").join(broadcast(q), "query_id")
      .select(col("rws"), col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePrenormed(col("emb"), col("q_emb"), col("nrm"), col("q_nrm"))
          .as("cos"))
      .groupBy(col("rws"), col("query_id"))
      .agg(graft.functions.TopKAggregate
        .topKBy(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("rws"), col("query_id"), explode(col("top")).as("t"))
      .select(col("rws"), col("query_id"), col("t.neighbor_id").as("neighbor_id"))
    val hitCounts = approx
      .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("rws")).agg(count(lit(1)).as("n_hit"))
    val candCounts = cand.groupBy(col("rws"))
      .agg(count(lit(1)).as("n_candidates"))
    import embeddings.sparkSession.implicits._
    schemes.toDF("bands", "rows_per_band")
      .join(hitCounts, col("rows_per_band") === hitCounts("rws"), "left")
      .drop("rws")
      .join(candCounts, col("rows_per_band") === candCounts("rws"), "left")
      .drop("rws")
      .crossJoin(broadcast(tot))
      .select(col("bands"), col("rows_per_band"),
        col("n_queries"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .select(col("bands"), col("rows_per_band"),
        col("n_queries"), col("n_truth"), col("n_hit"),
        when(col("n_truth") === 0, lit(null))
          .otherwise(col("n_hit") / col("n_truth")).as("recall_at_5"),
        col("n_candidates"),
        when(col("n_queries") === 0, lit(null))
          .otherwise(col("n_candidates") / col("n_queries"))
          .as("cand_per_query"))
      .orderBy(col("rows_per_band"))
  }

  /** Embedding near-dup pairs: all banded-candidate (v1 < v2) pairs with
    * cosine >= threshold. Candidates are generated id-only, deduped BEFORE
    * scoring (each pair's cosine computed exactly once), then both vectors
    * re-attached. */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.4,
                       bands: Int = 32, rows: Int = 12, dim: Int = 64,
                       seed: Long = 42L): DataFrame = {
    val planes = planeMatrix(bands * rows, dim, seed)
    val data = prepared(embeddings)
    val banded = bandValues(data, "vec_id", bands, rows, planes)
    val l = banded.toDF("v1", "band", "band_val")
    val r = banded.toDF("v2", "band", "band_val")
    val candidates = l.join(r, Seq("band", "band_val"))
      .filter(col("v1") < col("v2"))
      .select(col("v1"), col("v2"))
      .dropDuplicates("v1", "v2")
    candidates
      .join(data.select(col("vec_id").as("v1"), col("emb").as("emb1"), col("nrm").as("nrm1")), "v1")
      .join(data.select(col("vec_id").as("v2"), col("emb").as("emb2"), col("nrm").as("nrm2")), "v2")
      .select(col("v1"), col("v2"),
        cosinePrenormed(col("emb1"), col("emb2"), col("nrm1"), col("nrm2")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Symmetric int8 quantization of the embedding column, exploded to
    * (vec_id, dim, q, scale) rows — the 4×-smaller storage/bandwidth layout
    * a 100 TB vector store actually ships (q ∈ [-127, 127], x̂ = q·scale,
    * scale = max|x|/127 per vector; per-component error ≤ scale/2).
    *
    * Explode + one vec_id window keeps the whole computation codegen'd
    * (max over the partition, then a map-side rounding) — no per-row array
    * lambdas. Zero vectors quantize to all-zero with scale 0. The rounding
    * is plain double math (x·127/max|x|, HALF_UP) — both engines replay it
    * bit-for-bit, which the oracle checks. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val byVec = org.apache.spark.sql.expressions.Window.partitionBy(col("vec_id"))
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "dim", "x")
      .select(col("vec_id"), col("dim"), col("x").cast("double").as("x"))
      .withColumn("m", max(abs(col("x"))).over(byVec))
      .select(col("vec_id"), col("dim"),
        when(col("m") === 0.0, lit(0))
          .otherwise(round(col("x") * 127 / col("m")).cast("int")).as("q"),
        (col("m") / 127).as("scale"))
  }

  /** Per-label centroids as exploded (label, dim, centroid, n_vecs) rows —
    * the class-prototype computation behind cluster summaries,
    * nearest-class-mean classification, and IVF seeding. Explode-by-
    * dimension into ONE hash aggregate: map-side partial sums per
    * (label, dim), nothing vector-shaped ever collected or buffered. Sums
    * accumulate in DECIMAL(38,6) — exact and associative over the
    * 1e-6-QUANTIZED inputs (each component rounds once at 1e-6, then the
    * sum is reduction-order-independent; double accumulation would drift
    * between partitionings). Scale 6 is deliberate, not timid: float32
    * values are terminating binary fractions, so exact .5 rounding ties —
    * where Spark (HALF_UP) and other engines (half-even) disagree — get
    * MORE likely as scale grows (measured: scale 12 breaks the DuckDB
    * hash match on sf0.01, scale 6 never has). */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    embeddings
      .select(col("label"), posexplode(col("embedding")))
      .toDF("label", "dim", "x")
      .groupBy(col("label"), col("dim"))
      .agg((sum(col("x").cast("double").cast(d38)).cast("double") / count(col("x")))
             .as("centroid"),
           count(lit(1)).as("n_vecs"))
  }

  /** Per-label embedding-distribution drift — the embedding-space twin of
    * the text side's corpus_drift/quality_drift family: for each label,
    * the centroid of the vec_id-parity halves (the deterministic
    * before/after arrival stand-in — swap for a batch column in
    * production) and the cosine between the two half-centroids, plus the
    * half sizes and centroid norms. A label whose half-centroids diverge
    * means the encoder or the upstream content moved between snapshots —
    * the re-embed / re-calibrate signal an embedding pipeline watches
    * where text pipelines watch token_drift.
    *
    * Cross-engine exactness (the embedding_pca recipe): per-(label, half,
    * dim) sums accumulate in DECIMAL(38,6) (order-independent), means are
    * one decimal→double cast + one IEEE division, and the dot/norm folds
    * run in ascending-dim order (`aggregate` over `zip_with` on
    * dim-sorted arrays ≡ DuckDB list_sum over `list(... ORDER BY dim)`).
    * One posexplode scan to a |labels|×dims state table; everything past
    * it is label-sized. Labels missing a half report NULL, never a fake
    * number. */
  def embeddingDrift(embeddings: DataFrame): DataFrame =
    driftFromPartials(embeddingDriftPartials(embeddings))

  /** The per-(label, dim) half-sum state [[embeddingDrift]] reduces to —
    * DECIMAL(38,6) sums and long counts, EXACTLY additive across disjoint
    * vector batches (the covariance-partials posture: no float reduction
    * order to disturb), so a standing table of blind batch-tagged appends
    * serves a drift report equal to the batch operator bit for bit
    * ([[embeddingDriftFromTable]]). Engine retries should replace their
    * partition (StateSink-style); source-level redelivery double-counts
    * (the gram-df caveat). */
  def embeddingDriftPartials(embeddings: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    embeddings
      .select(col("label"), pmod(col("vec_id"), lit(2L)).as("half"),
        posexplode(col("embedding")))
      .toDF("label", "half", "dim", "x")
      .groupBy(col("label"), col("dim"))
      .agg(
        sum(when(col("half") === 0, col("x").cast("double").cast(d38))).as("sa"),
        count(when(col("half") === 0, lit(1))).as("na"),
        sum(when(col("half") === 1, col("x").cast("double").cast(d38))).as("sb"),
        count(when(col("half") === 1, lit(1))).as("nb"))
  }

  /** Serve the drift report from a standing partials table (written /
    * blind-appended from [[embeddingDriftPartials]] batches): one scan of
    * the |labels|×dims state — never the vectors — re-summed per
    * (label, dim) by exact decimal/long addition, then the identical
    * serve tail. Equals the batch [[embeddingDrift]] over everything
    * absorbed, bit for bit. */
  def embeddingDriftFromTable(spark: org.apache.spark.sql.SparkSession,
                              dir: String): DataFrame =
    driftFromPartials(FileFormats.readParquet(spark, dir)
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("sa")).as("sa"), sum(col("na")).as("na"),
        sum(col("sb")).as("sb"), sum(col("nb")).as("nb")))

  /** The drift serve tail, shared verbatim by the batch operator and the
    * state-served read so the incremental identity holds by
    * construction: dim-sorted mean vectors, ascending-index folds, one
    * final IEEE division per statistic; labels missing a half NULL. */
  private def driftFromPartials(per: DataFrame): DataFrame = {
    def meanVec(s: Column, n: Column): Column =
      transform(array_sort(collect_list(struct(col("dim"),
        (s.cast("double") / n).as("m")))), x => x.getField("m"))
    def dotFold(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)
    per.groupBy(col("label"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        meanVec(col("sa"), col("na")).as("va"),
        meanVec(col("sb"), col("nb")).as("vb"))
      .select(col("label"), col("n_a"), col("n_b"),
        sqrt(dotFold(col("va"), col("va"))).as("norm_a"),
        sqrt(dotFold(col("vb"), col("vb"))).as("norm_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          dotFold(col("va"), col("vb")) /
            (sqrt(dotFold(col("va"), col("va"))) *
             sqrt(dotFold(col("vb"), col("vb")))))
          .as("centroid_cos"))
      .orderBy(col("label"))
  }

  /** Per-vector QA stats — the sanity pass a pipeline runs before trusting
    * an embedding column at scale: dimensionality (ragged widths are
    * upstream bugs), exact squared L2 norm, and the two flags that matter
    * (all-zero vectors — failed encoder calls; near-unit norm — whether
    * the corpus is already normalized, deciding if cosine can be computed
    * as a plain dot product downstream).
    *
    * norm² instead of norm: it answers both questions without a sqrt, and
    * stays exactly cross-engine-reproducible — each x·x is one IEEE
    * multiply of float32-derived doubles (exact), accumulated in
    * DECIMAL(38,6) (associative, reduction-order-independent). One
    * posexplode + one hash aggregate keyed on vec_id: map-side partial
    * aggs, whole-stage codegen, a single shuffle of (vec_id, partial). */
  /** SemDeDup-style embedding-cluster dedup (after Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — public literature): cluster the corpus with
    * deterministic k-means, then prune near-duplicates WITHIN each cluster
    * only — the embedding twin of [[Dedup]]'s text clustering, with cost
    * bounded per cluster (size ≈ n/k with k ≈ √n or chosen for a target
    * cluster size) instead of corpus-wide LSH banding. A vector is a
    * duplicate when some LOWER-id member of its cluster sits above the
    * cosine threshold — the greedy keep-lowest-representative rule
    * [[Dedup.exact]] uses, applied per cluster.
    *
    * The coarse quantizer is [[Pq.fit]] at m = 1 (one subspace = plain
    * full-vector k-means): lowest-id seeds, one exact-decimal Lloyd round,
    * code-id tie-breaks — fully deterministic and cross-engine replayable,
    * which is what lets the oracle reproduce cluster ASSIGNMENTS (not just
    * distances) bit-for-bit. Within-cluster pairs shuffle id+vector rows
    * on cluster_id once; nothing is ever all-pairs across clusters.
    * Production tuning trades k up (smaller clusters, cheaper pairs,
    * slightly lower recall across cluster boundaries) exactly as SemDeDup
    * does. */
  def semanticDedup(embeddings: DataFrame, nClusters: Int = 16,
                    tau: Double = 0.4): DataFrame = {
    val model = Pq.fit(embeddings, m = 1, ncodes = nClusters, iters = 1)
    val clusters = Pq.encode(model, embeddings)
      .select(col("vec_id"), col("code").as("cluster_id"))
    val v = embeddings
      .select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))
      .join(clusters, "vec_id")
    val maxLower = v.as("a")
      .join(v.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("vec_id"),
        cosinePrenormed(col("a.emb"), col("b.emb"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .groupBy(col("vec_id"))
      .agg(max(col("cos")).as("max_lower_cos"))
    clusters.join(maxLower, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"), col("max_lower_cos"),
        coalesce(col("max_lower_cos") >= tau, lit(false)).as("is_dup"))
  }

  /** Greedy farthest-point k-center selection (Gonzalez'85) — the
    * coreset / prototype-selection operator a curation pipeline runs to
    * pick k maximally-diverse exemplars (labeling seeds, eval anchors,
    * IVF warm starts). Round 0 seeds at the lowest vec_id; each later
    * round selects the vector FARTHEST from the chosen set — the minimum
    * of the running max-cosine, ties to the lower id — the classic
    * 2-approximation to the optimal k-center cover.
    *
    * The [[Graph.pageRank]] iteration posture: per round ONE corpus pass
    * updates the running max_cos against the single new center (a 1-row
    * broadcast — after the initial checkpoint the corpus never travels a
    * shuffle), the round state is eagerly checkpointed with the
    * superseded round released, and the argmin is the min(struct)
    * hash-aggregate, never a sort. O(n·k) work, k map passes: at 100 TB
    * each round is an embarrassingly-parallel map plus a 1-row
    * aggregate.
    *
    * Every step is deterministic double arithmetic (the native
    * dot-product fold), so an external engine replays the selection
    * sequence bit-for-bit — the DuckDB oracle unrolls the k rounds as
    * materialized CTEs.
    *
    * @return one row per selected center: (center_id, round_idx,
    *         sel_cos) — sel_cos is the center's max cosine to the
    *         EARLIER centers at selection time (the cover radius in
    *         cosine terms; NULL for the seed)
    */
  def kCenter(embeddings: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = prepared(embeddings).localCheckpoint(true)
    val seed = base
      .join(broadcast(base.agg(min(col("vec_id")).as("seed_id"))),
        col("vec_id") === col("seed_id"))
      .select(col("vec_id").as("center_id"), col("emb").as("c_emb"),
        col("nrm").as("c_nrm"))
      .localCheckpoint(true)
    var rows = seed.select(col("center_id"), lit(0).as("round_idx"),
      lit(null).cast("double").as("sel_cos"))
    var center = seed
    var state: DataFrame = null
    // every per-round 1-row center checkpoint (and the seed) is owned by
    // this call and released via Checkpoints.drain once the k output rows
    // are local — repeated invocations in one session must not accumulate
    val owned = scala.collection.mutable.ListBuffer[DataFrame](seed)
    (1 until k).foreach { r =>
      val prev = state
      val stepCos =
        cosinePrenormed(col("emb"), col("c_emb"), col("nrm"), col("c_nrm"))
      state = (if (r == 1) base else state)
        .crossJoin(broadcast(center.select(col("c_emb"), col("c_nrm"))))
        .withColumn("max_cos",
          if (r == 1) stepCos else greatest(col("max_cos"), stepCos))
        .drop("c_emb", "c_nrm")
        .localCheckpoint(true)
      if (prev != null) Checkpoints.unpersist(prev)
      if (r == 1) Checkpoints.unpersist(base)
      center = state
        .join(broadcast(
            state.agg(min(struct(col("max_cos"), col("vec_id"))).as("m"))),
          struct(col("max_cos"), col("vec_id")) === col("m"))
        .select(col("vec_id").as("center_id"), col("emb").as("c_emb"),
          col("nrm").as("c_nrm"), col("max_cos").as("sel_cos"))
        .localCheckpoint(true)
      owned += center
      rows = rows.union(
        center.select(col("center_id"), lit(r).as("round_idx"), col("sel_cos")))
    }
    // the output unions only the 1-row center checkpoints; the final
    // corpus-sized state (and, at k = 1, the never-consumed base) can go
    if (state != null) Checkpoints.unpersist(state) else Checkpoints.unpersist(base)
    // k rows total: land them locally and release every center checkpoint
    Checkpoints.drain(rows, owned.toSeq)
  }

  def normStats(embeddings: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    embeddings
      .select(col("vec_id"), posexplode(col("embedding")))
      .toDF("vec_id", "dim", "x")
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_dims"),
           sum((col("x").cast("double") * col("x").cast("double")).cast(d38))
             .cast("double").as("norm_sq"))
      .select(col("vec_id"), col("n_dims"), col("norm_sq"),
        (col("norm_sq") === 0.0).as("is_zero"),
        (abs(col("norm_sq") - 1.0) <= 0.02).as("near_unit"))
  }

  /** Cluster-coherence read-out over a labeled embedding corpus — the
    * "is this clustering/labeling any good?" pass (the silhouette idea in
    * a set-oriented, cross-engine-hashable form): per label, the mean
    * cosine of members to their OWN [[labelCentroids]] prototype, the mean
    * cosine to the best OTHER prototype, and the mean separation margin.
    * High own / low other = coherent; margin ≤ 0 = the label is not a
    * cluster.
    *
    * Shape: member dims explode once and join centroids on dim, so the
    * scored frame is members × k × d rows — the unavoidable quality-pass
    * cost, linear in the corpus for the few-centroid k this exists for
    * (never member × member like true silhouette, which is quadratic and
    * was deliberately not implemented). Dots/norms accumulate in
    * DECIMAL(38,6) over exact per-row IEEE products; sqrt and one divide
    * are correctly rounded, so every cosine replays bit-for-bit in any
    * engine ([[labelCentroids]]' quantized-sum discipline end-to-end).
    */
  def clusterQuality(embeddings: DataFrame): DataFrame =
    memberPrototypeCos(embeddings)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_members"),
        graft.queries.Exact.davg(col("own")).as("mean_own_cos"),
        graft.queries.Exact.davg(col("best_other")).as("mean_best_other_cos"),
        graft.queries.Exact.davg(col("own") - col("best_other")).as("mean_margin"))

  /** Per-member prototype cosines — the frame both [[clusterQuality]]
    * (label-level aggregate) and the embedding outlier flags (per-member
    * z-scores over `own`) read: (vec_id, label, own, best_other). */
  def memberPrototypeCos(embeddings: DataFrame): DataFrame = {
    val d38 = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 6)
    // the k×d centroid table is referenced twice (its norms and the dim
    // join) — land it driver-local once so the corpus-scanning centroid
    // aggregate is not re-planned per reference (Checkpoints.drain is the
    // repo's contract for bounded-by-k outputs; without it this operator
    // would scan the corpus twice before scoring even starts)
    val cents = Checkpoints.drain(
      labelCentroids(embeddings)
        .select(col("label").as("c_label"), col("dim"), col("centroid")),
      owned = Nil)
    val cnorm = cents.groupBy(col("c_label"))
      .agg(sqrt(sum((col("centroid") * col("centroid")).cast(d38))
        .cast("double")).as("c_norm"))
    // member norms stay a SEPARATE O(n·d) pass + vec_id join: folding Σx²
    // into the dots aggregation looks like it saves an explode, but the
    // (vec_id, c_label) grid replicates the norm's decimal work k times —
    // measured 2.86s → 4.2s at sf0.1, the decimal arithmetic dominates
    val dims = embeddings
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .toDF("vec_id", "label", "dim", "x")
    val vnorm = dims.groupBy(col("vec_id"))
      .agg(sqrt(sum((col("x").cast("double") * col("x").cast("double"))
        .cast(d38)).cast("double")).as("v_norm"))
    val cos = dims
      .join(broadcast(cents), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(sum((col("x").cast("double") * col("centroid")).cast(d38))
        .cast("double").as("dot"))
      .join(vnorm, Seq("vec_id"))
      .join(broadcast(cnorm), Seq("c_label"))
      .select(col("vec_id"), col("label"), col("c_label"),
        (col("dot") / (col("v_norm") * col("c_norm"))).as("cos"))
    cos.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("label") === col("c_label"), col("cos"))).as("own"),
        max(when(col("label") =!= col("c_label"), col("cos"))).as("best_other"))
  }
}
