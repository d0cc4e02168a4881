package graft

import org.apache.spark.sql.functions._
import graft.ops.{Ivf, Similarity}
import graft.functions.VectorFunctions

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)), // nearly parallel to 0
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),  // orthogonal to 0
    (3L, Array(0.7f, 0.7f, 0.0f, 0.0f)),  // 45 degrees
    (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f))  // opposite of 0
  ).toDF("vec_id", "embedding")

  test("cosine expression matches hand-computed values") {
    val c = vecs.filter($"vec_id" === 3L)
      .select(VectorFunctions.cosine(
        VectorFunctions.toDouble($"embedding"),
        array(lit(1.0), lit(0.0), lit(0.0), lit(0.0))).as("c"))
      .as[Double].head()
    assert(math.abs(c - math.sqrt(0.5)) < 1e-9)
  }

  test("brute-force kNN ranks by cosine with id tiebreak, excludes self") {
    val out = Similarity.knnBruteForce(vecs, vecs.filter($"vec_id" === 0L), k = 4)
      .orderBy("rank")
      .select("rank", "neighbor_id").as[(Int, Long)].collect()
    assert(out.map(_._2).toSeq === Seq(1L, 3L, 2L, 4L))
    assert(out.map(_._1).toSeq === Seq(1, 2, 3, 4))
  }

  test("label propagation: synchronous rounds over the mutual-kNN path") {
    // Angles chosen so k=2 mutual edges form exactly 3–0–1–2 and the
    // triangle 5–6–7, with 9 isolated (its top-2 never reciprocate).
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat, 0.0f, 0.0f)
    val emb = Seq(
      (0L, v(0.0), 7L),   // seed (0 % 5 == 0)
      (1L, v(10.0), 7L),
      (2L, v(23.0), 9L),  // reachable only through 1 -> labeled in round 2
      (3L, v(-4.0), 7L),
      (5L, v(86.0), 2L),  // seed
      (6L, v(90.0), 2L),
      (7L, v(95.0), 4L),
      (9L, v(180.0), 7L)  // isolated: never labeled
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.labelPropagate(emb, k = 2, seedMod = 5, rounds = 2)
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getBoolean(1), Option(r.get(2)).map(_.asInstanceOf[Long]), r.getBoolean(3))))
      .toMap
    assert(out(0L) === ((true, Some(7L), true)))
    assert(out(1L) === ((false, Some(7L), true)))
    assert(out(2L) === ((false, Some(7L), false)), "true label 9, propagated 7")
    assert(out(3L) === ((false, Some(7L), true)))
    assert(out(5L) === ((true, Some(2L), true)))
    assert(out(6L) === ((false, Some(2L), true)))
    assert(out(7L) === ((false, Some(2L), false)), "true label 4, propagated 2")
    assert(out(9L) === ((false, None, false)), "isolated vector stays unlabeled")
    // Synchrony: with one round, 2 is still unlabeled (1 was unlabeled at t0).
    val r1 = Similarity.labelPropagate(emb, k = 2, seedMod = 5, rounds = 1)
      .filter($"vec_id" === 2L).collect()
    assert(r1.head.isNullAt(2), "round-2-deep node must not label in one round")
  }

  test("graph triangles: closed wedge counted once, pendants and isolates zeroed") {
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat,
      math.sin(math.toRadians(deg)).toFloat, 0.0f, 0.0f)
    // 0-1-2 tight (k=2 mutual clique => one triangle, cc 1.0); 5-6 a
    // mutual pair (degree 1, no wedge); 9 unreciprocated (degree 0).
    val emb = Seq(
      (0L, v(0.0)), (1L, v(5.0)), (2L, v(10.0)),
      (5L, v(90.0)), (6L, v(95.0)), (9L, v(180.0))
    ).toDF("vec_id", "embedding")
    val out = Similarity.graphTriangles(emb, k = 2).orderBy("vec_id").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    Seq(0L, 1L, 2L).foreach { id =>
      assert(out(id) === ((2L, 1L, 1.0)), s"clique node $id")
    }
    assert(out(5L) === ((1L, 0L, 0.0)) && out(6L) === ((1L, 0L, 0.0)))
    assert(out(9L) === ((0L, 0L, 0.0)), "unreciprocated node: defined zeros")
  }

  test("random projection: md5-parity matrix, exact scaling, twin recall") {
    // Basis vector e_i projects to row i of the matrix: every coordinate
    // is exactly ±1/sqrt(16), with the sign of md5("rp:i:j")'s last bit.
    val e3 = Seq((0L, Array.tabulate(64)(i => if (i == 3) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val row = Similarity.randomProjection(e3).orderBy("dim")
      .select("y").as[Double].collect()
    assert(row.length === 16)
    row.zipWithIndex.foreach { case (y, j) =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:3:$j".getBytes("UTF-8"))
      val want = if ((d(15) & 1) == 1) -0.25 else 0.25
      assert(y === want, s"dim $j")
    }
    // Doubling the input doubles every coordinate EXACTLY (x2 is exact fp).
    val v1 = Array.tabulate(64)(i => (0.01f * (i % 7) + 0.1f))
    val both = Seq((0L, v1), (1L, v1.map(_ * 2.0f))).toDF("vec_id", "embedding")
    val m = Similarity.randomProjection(both).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq }
    assert(m(1L) === m(0L).map(_ * 2.0))
    // Identical twins stay each other's top-1 through any projection.
    val dirs = Seq(0, 7, 21)
    val twins = dirs.zipWithIndex.flatMap { case (d, p) =>
      val v = Array.tabulate(64)(i => if (i == d) 1.0f else 0.02f * p)
      Seq((2L * p, v), (2L * p + 1, v))
    }.toDF("vec_id", "embedding")
    val rec = Similarity.rpKnnRecall(twins, outDims = 16, k = 1).collect().head
    assert(rec.getLong(0) === 6L && rec.getLong(2) === 6L)
    assert(rec.getDouble(3) === 1.0)
    // Same harness, truncation path: identical twins also truncate identically.
    val tr = Similarity.truncationRecall(twins, dims = 16, k = 1).collect().head
    assert(tr.getLong(2) === 6L && tr.getDouble(3) === 1.0)
    // Tiny-corpus denominator (r13 ADVICE): 3 vectors at k = 5 have only
    // 2 true neighbors per query (n_full = 6, not n·k = 15); a lossless
    // "reduction" (full-width truncation) must read recall = 1.0, which
    // the old n·k denominator capped at 0.4.
    val tiny = Seq(
      (0L, Array.tabulate(64)(i => 0.01f * i)),
      (1L, Array.tabulate(64)(i => 1.0f - 0.003f * i)),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 0.5f else 0.25f))
    ).toDF("vec_id", "embedding")
    val tt = Similarity.truncationRecall(tiny, dims = 64, k = 5).collect().head
    assert(tt.getLong(0) === 3L, "n_queries")
    assert(tt.getLong(2) === 6L, "hits = full graph size on a 3-vector corpus")
    assert(tt.getDouble(3) === 1.0, "identity reduction must reach recall 1.0")
  }

  test("label_balance: exact shares, weights, Gini and majority baseline") {
    val rows = SparkEntry.queries("label_balance")(spark, sf).collect()
    val counts = rows.map(_.getAs[Long]("n"))
    val n = counts.sum
    val k = counts.length.toLong
    val sumSq = counts.map(c => c * c).sum
    rows.foreach { r =>
      val c = r.getAs[Long]("n")
      assert(r.getAs[Double]("share") === c.toDouble / n)
      assert(r.getAs[Double]("class_weight") === n.toDouble / (k * c))
      assert(r.getAs[Double]("gini_impurity") ===
        1.0 - sumSq.toDouble / (n * n))
      assert(r.getAs[Double]("majority_share") === counts.max.toDouble / n)
    }
    // shares partition the corpus
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-12)
  }

  test("pcaPower recovers the dominant axis of a rank-1 corpus") {
    // every vector lies on the (1,1) diagonal: PC1 must be ±(1/√2, 1/√2)
    // and explain ALL the variance
    val vecs2 = Seq(
      (0L, Array(1.0f, 1.0f)), (1L, Array(2.0f, 2.0f)),
      (2L, Array(3.0f, 3.0f)), (3L, Array(-1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.pcaPower(vecs2)
      .as[(Long, Double, Double, Double, Double, Double)].collect().sortBy(_._1)
    val s = 1.0 / math.sqrt(2.0)
    out.foreach { r =>
      assert(math.abs(math.abs(r._3) - s) < 1e-9,
        s"loading should be ±1/√2, got ${r._3}")
      assert(math.abs(r._6 - 1.0) < 1e-9,
        s"a rank-1 corpus is 100% explained by PC1, got ${r._6}")
      assert(math.abs(r._2 - 1.25) < 1e-12, "mean of (1,2,3,-1) is 1.25")
    }
    // both dims load identically (same sign) on the diagonal axis
    assert(out(0)._3 === out(1)._3)
  }

  test("removeTopComponent: a rank-1 corpus is fully explained — residuals vanish") {
    val vecs2 = Seq(
      (0L, Array(1.0f, 1.0f)), (1L, Array(2.0f, 2.0f)),
      (2L, Array(3.0f, 3.0f)), (3L, Array(-1.0f, -1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.removeTopComponent(vecs2)
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)
    out.foreach { r =>
      assert(math.abs(r._3 - math.abs(r._2)) < 1e-9,
        "centered norm equals |PC1 coordinate| when all variance is PC1")
      assert(r._4 < 1e-9, s"residual must vanish on a rank-1 corpus, got ${r._4}")
    }
  }

  test("streaming covariance maintenance: table PCA equals batch PCA bit for bit") {
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val b1 = emb.filter($"vec_id" < 250)
    val b2 = emb.filter($"vec_id" >= 250)
    val covDir = graft.sources.Scratch.dir("graft_cov")
    val srcDir = graft.sources.Scratch.path("graft_cov_src")
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_cov_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val ckpt = graft.sources.Scratch.dir("graft_cov_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, emb, maxFilesPerTrigger = 1),
      ckpt)((b, id) => graft.streaming.StateSink.appendIdempotent(
        Similarity.covPartials(b), id, covDir))
    q.awaitTermination()
    assert(spark.read.parquet(covDir).select($"batch_id").distinct().count() === 2)
    val fromTable = Similarity.pcaFromTable(spark, covDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = Similarity.pcaPower(emb)
      .collect().map(_.toString).sorted.toSeq
    assert(fromTable === batch,
      "summed streamed partials must reproduce the batch PCA exactly")
    // iters passes through to the solve: a non-default iteration count
    // must match the batch operator at the SAME count, bit for bit
    val fromTable3 = Similarity.pcaFromTable(spark, covDir, iters = 3)
      .collect().map(_.toString).sorted.toSeq
    val batch3 = Similarity.pcaPower(emb, iters = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(fromTable3 === batch3,
      "pcaFromTable(iters = 3) must equal pcaPower(iters = 3)")
  }

  test("cov_partials_agg equals the explode formulation cell for cell") {
    // the r17 d²-bounded TypedImperativeAggregate replaced the explode
    // form (d(d+1)/2 + d + 1 struct rows per vector); the exact-decimal
    // contract is that the partials TABLE is unchanged cell for cell —
    // same (i, j) keys, same decimal(38,6) sums, so pcaFromTable, the
    // oracle SQL and the streaming maintenance are all untouched
    val emb = graft.sources.Tables.embeddings(spark, sf)
    val agg = Similarity.covPartials(emb).collect().map(_.toString).sorted.toSeq
    val v = emb.select(VectorFunctions.toDouble($"embedding").as("emb"))
    val d = v.select(size($"emb")).head().getInt(0)
    val exploded = v.select(explode(concat(
        flatten(transform(sequence(lit(0), lit(d - 1)), i =>
          concat(
            transform(sequence(i, lit(d - 1)), j =>
              struct(i.cast("int").as("i"), j.cast("int").as("j"),
                (element_at($"emb", i + 1) * element_at($"emb", j + 1)).as("p"))),
            array(struct(i.cast("int").as("i"), lit(-1).as("j"),
              element_at($"emb", i + 1).as("p")))))),
        array(struct(lit(-1).as("i"), lit(-1).as("j"), lit(1.0).as("p"))))).as("t"))
      .groupBy($"t.i".as("i"), $"t.j".as("j"))
      .agg(sum($"t.p".cast("decimal(38,6)")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(agg === exploded,
      "aggregate partials must equal the explode formulation cell for cell")
    // empty corpus: an empty, correctly-typed frame (streaming micro-batch
    // with zero rows must not kill the maintenance query)
    val empty = Similarity.covPartials(emb.limit(0))
    assert(empty.columns.toSeq === Seq("i", "j", "s"))
    assert(empty.count() === 0L)
    // NULL vectors contribute nothing — not even to the count cell (the
    // explode form's concat-with-null behavior, preserved)
    val withNull = emb.select($"vec_id",
      when($"vec_id" % 2 === 0, $"embedding").as("embedding"))
    val evenOnly = emb.filter($"vec_id" % 2 === 0)
    assert(Similarity.covPartials(withNull)
        .collect().map(_.toString).sorted.toSeq ===
      Similarity.covPartials(evenOnly)
        .collect().map(_.toString).sorted.toSeq,
      "null vectors must contribute nothing to any cell")
  }

  test("cov_partials_agg matches the explode form on NaN/Infinity inputs") {
    // non-ANSI Cast maps a non-finite double to NULL decimal and sum()
    // skips NULLs — the r17 explode form therefore DEGRADED on a bad
    // embedding value where the first aggregate cut crashed (r17 ADVICE:
    // Double.toString(NaN) is not a parseable BigDecimal). Pin the
    // aggregate to the explode semantics on a corpus seeded with NaN,
    // +Inf and -Inf values: same cells, same NULLs, no exception.
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = Seq(
      Row(Array(1.5, Double.NaN, 2.0)),
      Row(Array(2.5, Double.PositiveInfinity, -1.0)),
      Row(Array(-0.5, Double.NegativeInfinity, 4.0)),
      Row(Array(3.0, Double.NaN, 0.25)))
    val emb = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("embedding",
        ArrayType(DoubleType, containsNull = false)))))
    val agg = Similarity.covPartials(emb)
    val got = agg.collect().map(_.toString).sorted.toSeq
    val d = 3
    val exploded = emb.select($"embedding".as("emb"))
      .select(explode(concat(
        flatten(transform(sequence(lit(0), lit(d - 1)), i =>
          concat(
            transform(sequence(i, lit(d - 1)), j =>
              struct(i.cast("int").as("i"), j.cast("int").as("j"),
                (element_at($"emb", i + 1) * element_at($"emb", j + 1)).as("p"))),
            array(struct(i.cast("int").as("i"), lit(-1).as("j"),
              element_at($"emb", i + 1).as("p")))))),
        array(struct(lit(-1).as("i"), lit(-1).as("j"), lit(1.0).as("p"))))).as("t"))
      .groupBy($"t.i".as("i"), $"t.j".as("j"))
      .agg(sum($"t.p".cast("decimal(38,6)")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(got === exploded,
      "non-finite terms must be skipped like Cast→NULL, cell for cell")
    // dim 1 (the NaN column crossed with itself) must read as an all-NULL
    // sum, and the row count must still see every row
    val cells = agg.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> Option(r.getDecimal(2))).toMap
    assert(cells((1, 1)).isEmpty, "all-non-finite cell must be NULL")
    assert(cells((-1, -1)).get.intValueExact() === 4,
      "row count must be unaffected by non-finite values")
    // mixed cell (0,1): finite×NaN rows skip, nothing else contributes
    assert(cells((0, 1)).isEmpty,
      "a cell whose every product is non-finite must be NULL")
    // finite cell (0,2) keeps only the finite products
    assert(cells((0, 2)).isDefined)
    // the solve must DEGRADE on the poisoned dimension (NaN loadings, the
    // zero-variance posture), never crash on the NULL cells
    val solved = Similarity.pcaPower(emb).collect()
    assert(solved.length === 3)
    assert(solved.forall(r => r.getDouble(2).isNaN),
      "a poisoned dimension must yield NaN loadings, not an exception")
  }

  test("corpus-wide kNN graph through the IVF index equals the brute graph at full probe") {
    // the documented index-scale path for knnGraph: the SAME shape run
    // through the partitioned lists with queries = all vectors; at
    // nprobe = nLists the probe is exhaustive, so the graph must equal
    // the brute-force operator exactly (cos included — both score with
    // the identical prenormed expression)
    val data = graft.sources.Tables.embeddings(spark, sf)
    val model = Ivf.fit(data, nLists = 8, iters = 2)
    val dir = graft.sources.Scratch.dir("graft_ivf_g")
    Ivf.writeIndex(model, data, dir)
    val viaIndex = Ivf.searchIndex(spark, dir, data, k = 5, nprobe = 8)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val brute = Similarity.knnGraph(data, k = 5)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(viaIndex === brute,
      "full-probe IVF graph must equal the brute-force graph exactly")
  }

  test("mutualKnn keeps only reciprocated edges, undirected d1 < d2") {
    // at k=1: 0↔1 point at each other (mutual); 2's top-1 is 3 but 3's
    // top-1 is 1 — unreciprocated, dropped
    val out = Similarity.mutualKnn(vecs, k = 1)
      .select("d1", "d2").as[(Long, Long)].collect().toSeq
    assert(out === Seq((0L, 1L)), s"only the reciprocal pair survives: $out")
  }

  test("hardNegatives: top-k restricted to OTHER labels, same-label near-dups excluded") {
    // vec 1 is nearly parallel to the query but shares its label — a
    // positive, not a negative; the miner must skip it and rank the
    // cross-label vectors by cosine
    val labeled = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 7),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f), 7), // same label as query
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 8),
      (3L, Array(0.7f, 0.7f, 0.0f, 0.0f), 8),
      (4L, Array(-1.0f, 0.0f, 0.0f, 0.0f), 9)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(labeled,
        labeled.filter($"vec_id" === 0L), k = 4)
      .orderBy("rank").select("rank", "neighbor_id").as[(Int, Long)].collect()
    assert(out.map(_._2).toSeq === Seq(3L, 2L, 4L),
      s"expected cross-label ranking 3,2,4 (1 excluded as same-label), got ${out.toSeq}")
  }

  test("LSH kNN with high-recall tuning matches brute-force on testdata") {
    val queries = graft.sources.Tables.embeddings(spark, sf).filter($"vec_id" < 5)
    val data = graft.sources.Tables.embeddings(spark, sf)
    val bf = Similarity.knnBruteForce(data, queries, k = 3)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    // recall is a tuning knob: b=64 bands of r=4 bits gives miss prob
    // (1-p^4)^64 ≈ 2e-5 even at cos 0.4, so the exact top-3 must survive —
    // this pins candidate-generation + verification + top-k logic to the
    // brute-force baseline. (Production defaults use r=12 for scale; see
    // Similarity scaladoc for the recall/cost model.)
    val lsh = Similarity.knnLsh(data, queries, k = 3, bands = 64, rows = 4)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(lsh === bf)
  }

  test("native dot product is bit-identical to the higher-order-function fold") {
    val data = graft.sources.Tables.embeddings(spark, sf)
      .select($"vec_id", VectorFunctions.toDouble($"embedding").as("emb"))
    val both = data
      .select(
        VectorFunctions.dot($"emb", $"emb").as("native"),
        aggregate(zip_with($"emb", $"emb", (x, y) => x * y), lit(0.0),
          (acc, v) => acc + v).as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(h))
    }
  }

  test("IVF search: deterministic, recall rises with nprobe, full probe = brute force") {
    val data = graft.sources.Tables.embeddings(spark, sf)
    val queries = data.filter($"vec_id" < 5)
    val bf = Similarity.knnBruteForce(data, queries, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val model = Ivf.fit(data, nLists = 8, iters = 2)
    assert(model.centroids.count() === 8)
    def recallAt(nprobe: Int): Double = {
      val got = Ivf.search(model, data, queries, k = 5, nprobe = nprobe)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(bf).size.toDouble / bf.size
    }
    // probing every list searches every vector => exact
    assert(recallAt(8) === 1.0)
    val r2 = recallAt(2)
    assert(r2 > 0.2, s"nprobe=2 recall unreasonably low: $r2")
    assert(recallAt(8) >= r2)
    // determinism: rebuilding the index reproduces the same assignments —
    // and Lloyd rounds release superseded checkpoints (bounded storage:
    // at most the final round's centroids stay pinned per fit)
    val before = spark.sparkContext.getPersistentRDDs.size
    val again = Ivf.fit(data, nLists = 8, iters = 2)
    assert(spark.sparkContext.getPersistentRDDs.size - before <= 1,
      "Ivf.fit leaked superseded Lloyd-round checkpoints")
    assert(again.assignments.orderBy("vec_id").collect()
      === model.assignments.orderBy("vec_id").collect())
  }

  test("PQ: deterministic fit, seeds self-encode at distance 0, ADC ranks sanely") {
    import graft.ops.Pq
    val data = graft.sources.Tables.embeddings(spark, sf)
    // iters=0: the codebook IS the seed subvectors, so each seed vector
    // must encode to its own code with EXACT zero distance in every
    // subspace (x - 2x + x over identical folds is exactly 0.0 in IEEE)
    val seedModel = Pq.fit(data, m = 8, ncodes = 16, iters = 0)
    val selfCodes = Pq.encode(seedModel, data.filter($"vec_id" < 16))
      .as[(Long, Int, Int)].collect()
    assert(selfCodes.length === 16 * 8)
    // seed with rank r (ordered by vec_id) carries code r in every subspace
    selfCodes.foreach { case (vid, _, code) => assert(code === vid.toInt) }
    // refined fit is reproducible and releases superseded checkpoints
    val before = spark.sparkContext.getPersistentRDDs.size
    val m1 = Pq.fit(data, m = 8, ncodes = 16, iters = 1)
    val m2 = Pq.fit(data, m = 8, ncodes = 16, iters = 1)
    assert(spark.sparkContext.getPersistentRDDs.size - before <= 2,
      "Pq.fit leaked superseded Lloyd-round checkpoints")
    assert(m2.codebook.orderBy("sub", "code").collect()
      === m1.codebook.orderBy("sub", "code").collect())
    // ADC approximates true L2 — sanity: distances are non-negative (up
    // to fp slack) and each query's ADC top-5 overlaps its exact-L2 top-5
    val queries = data.filter($"vec_id" < 5)
    val adc = Pq.search(m1, Pq.encode(m1, data), queries, k = 5)
      .select("query_id", "neighbor_id", "adc_d2")
      .as[(Long, Long, Double)].collect()
    assert(adc.forall(_._3 >= -1e-9))
    val prep = data.select($"vec_id",
        VectorFunctions.toDouble($"embedding").as("emb"))
      .withColumn("n2", VectorFunctions.normSq($"emb"))
    val q = prep.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"emb".as("qe"), $"n2".as("qn2"))
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d2", $"neighbor_id")
    val exact = prep.join(broadcast(q), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        ($"n2" - lit(2.0) * VectorFunctions.dot($"emb", $"qe") + $"qn2").as("d2"))
      .withColumn("rn", row_number().over(wq)).filter($"rn" <= 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    adc.groupBy(_._1).foreach { case (qid, rows) =>
      assert(rows.map(_._2).toSet.intersect(exact(qid)).nonEmpty,
        s"query $qid: ADC top-5 shares nothing with exact-L2 top-5")
    }
    // IVFPQ composition: at full probe the coarse quantizer admits every
    // list, so the composed search must EQUAL plain PQ ADC; at partial
    // probe it still returns k ranked rows per query from probed lists
    val ivf = Ivf.fit(data, nLists = 8, iters = 2)
    val codes = Pq.encode(m1, data)
    val full = Pq.searchIvf(m1, ivf, codes, queries, k = 5, nprobe = 8)
      .orderBy("query_id", "rank").collect()
    val plain = Pq.search(m1, codes, queries, k = 5)
      .orderBy("query_id", "rank").collect()
    assert(full === plain, "full-probe IVFPQ must equal plain PQ ADC")
    val partial = Pq.searchIvf(m1, ivf, codes, queries, k = 5, nprobe = 2)
    assert(partial.groupBy("query_id").count()
      .select(min($"count")).as[Long].head() === 5L)
  }

  test("on-disk IVF index: partition-pruned probe, results equal in-memory search") {
    val data = graft.sources.Tables.embeddings(spark, sf)
    val queries = data.filter($"vec_id" < 5)
    val model = Ivf.fit(data, nLists = 8, iters = 2)
    val dir = graft.sources.Scratch.dir("graft_ivf")
    Ivf.writeIndex(model, data, dir)
    // one directory per list on disk
    val listDirs = new java.io.File(s"$dir/lists").listFiles()
      .filter(_.getName.startsWith("centroid_id=")).length
    assert(listDirs === 8)
    val onDisk = Ivf.searchIndex(spark, dir, queries, k = 5, nprobe = 2)
    // the probe join must partition-prune the lists scan (dynamic pruning
    // on the partition column from the broadcast probe set)
    assert(planOf(onDisk).contains("dynamicpruning"),
      "lists scan is not dynamically partition-pruned")
    val inMem = Ivf.search(model, data, queries, k = 5, nprobe = 2)
    val a = onDisk.select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val b = inMem.select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(a === b)
  }

  test("IVF arrivals: post-append index search equals the union-model search") {
    val all = graft.sources.Tables.embeddings(spark, sf)
    val standing = all.filter($"vec_id" % 5 =!= 0)
    val arrivals = all.filter($"vec_id" % 5 === 0)
    val queries = all.filter($"vec_id" < 5)
    val model = Ivf.fit(standing, nLists = 8, iters = 2)
    val dir = graft.sources.Scratch.dir("graft_ivf_app")
    Ivf.writeIndex(model, standing, dir)
    val newAssign = Ivf.appendToIndex(spark, dir, arrivals)
    // the in-memory equivalent of the appended index: same frozen
    // centroids, assignments = standing ∪ arrivals-assigned-to-them
    val unionModel = Ivf.IvfModel(model.centroids,
      model.assignments.union(newAssign))
    Seq(2, 8).foreach { nprobe =>
      val onDisk = Ivf.searchIndex(spark, dir, queries, k = 5, nprobe = nprobe)
        .select("query_id", "rank", "neighbor_id", "cos")
        .as[(Long, Int, Long, Double)].collect().toSet
      val inMem = Ivf.search(unionModel, all, queries, k = 5, nprobe = nprobe)
        .select("query_id", "rank", "neighbor_id", "cos")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(onDisk === inMem, s"append/union divergence at nprobe=$nprobe")
    }
    // at full probe the candidate set is every vector: the appended index
    // answers EXACTLY the brute-force top-k over the union corpus
    val full = Ivf.searchIndex(spark, dir, queries, k = 5, nprobe = 8)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val brute = Similarity.knnBruteForce(all, queries, k = 5)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full === brute)
  }

  test("IVF drift report: hand-built lists produce exact per-list health rows") {
    val dir = graft.sources.Scratch.dir("graft_ivf_drift")
    // hand layout: centroid 1 = (1,0), centroid 2 = (0,1); list 1 holds a
    // perfect member and a drifted one (cos 0.6), list 2 a perfect member
    Seq((1L, Seq(1.0, 0.0), 1.0), (2L, Seq(0.0, 1.0), 1.0))
      .toDF("centroid_id", "cvec", "cnrm")
      .write.mode("overwrite").parquet(s"$dir/centroids")
    Seq((10L, Seq(1.0, 0.0), 1.0, 1L), (11L, Seq(0.6, 0.8), 1.0, 1L),
        (12L, Seq(0.0, 1.0), 1.0, 2L))
      .toDF("vec_id", "emb", "nrm", "centroid_id")
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/lists")
    val r = Ivf.driftReport(spark, dir).orderBy($"centroid_id")
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(r(0) === ((1L, 2L, 0.8, 0.6, 2.0 * 2 / 3)))
    assert(r(1) === ((2L, 1L, 1.0, 1.0, 1.0 * 2 / 3)))
    // and on a REAL appended index the report is one row per list with
    // members accounted exactly once
    val all = graft.sources.Tables.embeddings(spark, sf)
    val standing = all.filter($"vec_id" % 5 =!= 0)
    val model = Ivf.fit(standing, nLists = 8, iters = 2)
    val dir2 = graft.sources.Scratch.dir("graft_ivf_drift2")
    Ivf.writeIndex(model, standing, dir2)
    Ivf.appendToIndex(spark, dir2, all.filter($"vec_id" % 5 === 0))
    val rep = Ivf.driftReport(spark, dir2)
    assert(rep.count() === 8L)
    assert(rep.agg(sum($"n_members")).as[Long].head() === all.count())
    assert(rep.filter($"mean_cos" > 1.0 + 1e-12 || $"min_cos" > $"mean_cos").count() === 0)
  }

  test("IVF lifecycle: refresh absorbs arrivals, compacts accreted lists, re-fits on drift") {
    val all = graft.sources.Tables.embeddings(spark, sf)
    val standing = all.filter($"vec_id" % 5 =!= 0)
    val arrivals = all.filter($"vec_id" % 5 === 0)
    val queries = all.filter($"vec_id" < 5)
    val model = Ivf.fit(standing, nLists = 8, iters = 2)
    val dir = graft.sources.Scratch.dir("graft_ivf_lc")
    Ivf.writeIndex(model, standing, dir)
    def fileCounts(): Seq[Int] = new java.io.File(s"$dir/lists").listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("centroid_id="))
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    assert(fileCounts().forall(_ === 1), "fresh index: one file per list")

    // healthy refresh (lenient thresholds): arrivals absorbed, NO re-fit,
    // and the accreted per-list files compacted back to one per directory
    val r1 = Ivf.refreshIndex(spark, dir, Some(arrivals), nLists = 8, iters = 2)
    assert(r1.appended === arrivals.count())
    assert(!r1.refit)
    assert(r1.compactedLists > 0 && r1.compactedLists <= 8)
    assert(fileCounts().forall(_ === 1), "refresh must leave one file per list")
    // compaction preserved content: the compacted index still answers
    // exactly the union-model search
    val unionModel = Ivf.IvfModel(model.centroids,
      spark.read.parquet(s"$dir/lists").select($"vec_id", $"centroid_id"))
    val afterCompact = Ivf.searchIndex(spark, dir, queries, k = 5, nprobe = 2)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    val inMem = Ivf.search(unionModel, all, queries, k = 5, nprobe = 2)
      .select("query_id", "rank", "neighbor_id", "cos")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(afterCompact === inMem)

    // drifted refresh: size_ratio's pigeonhole bound (max >= 1) makes a
    // 0.999 threshold trip deterministically → re-fit from the index's own
    // lists, atomically swapped in
    val r2 = Ivf.refreshIndex(spark, dir, None, nLists = 8, iters = 2,
      maxSizeRatio = 0.999)
    assert(r2.refit && r2.appended === 0L)
    assert(!new java.io.File(s"$dir.refit_tmp").exists())
    assert(!new java.io.File(s"$dir.refit_old").exists())
    assert(fileCounts().forall(_ === 1), "re-fit rewrite: one file per list")
    // the refreshed index equals a from-scratch build over the accumulated
    // corpus: same deterministic seeds and Lloyd rounds. Neighbor sets are
    // compared exactly; cosines to 1e-9 — the two builds read different
    // file layouts, so the centroid avg()'s double reduction order (and
    // thus ulps) may differ.
    val fresh = Ivf.fit(all, nLists = 8, iters = 2)
    val freshDir = graft.sources.Scratch.dir("graft_ivf_fr")
    Ivf.writeIndex(fresh, all, freshDir)
    Seq(2, 8).foreach { nprobe =>
      val a = Ivf.searchIndex(spark, dir, queries, k = 5, nprobe = nprobe)
        .select("query_id", "rank", "neighbor_id", "cos")
        .as[(Long, Int, Long, Double)].collect()
        .map { case (q, r, n, c) => (q, r, n, math.rint(c * 1e9) / 1e9) }.toSet
      val b = Ivf.searchIndex(spark, freshDir, queries, k = 5, nprobe = nprobe)
        .select("query_id", "rank", "neighbor_id", "cos")
        .as[(Long, Int, Long, Double)].collect()
        .map { case (q, r, n, c) => (q, r, n, math.rint(c * 1e9) / 1e9) }.toSet
      assert(a === b, s"re-fit index diverged from from-scratch at nprobe=$nprobe")
    }
  }

  test("streaming IVF append: file-arrival vectors land in the index, search equals union model") {
    // the IVF lifecycle's arrival path through the REAL streaming wiring:
    // two arrival files, one micro-batch each, each blind-appended to the
    // standing index's lists — then the index answers exactly what the
    // in-memory union model answers
    val all = graft.sources.Tables.embeddings(spark, sf)
    val standing = all.filter($"vec_id" % 5 =!= 0)
    val arrivals = all.filter($"vec_id" % 5 === 0)
    val queries = all.filter($"vec_id" < 5)
    val model = Ivf.fit(standing, nLists = 8, iters = 2)
    val dir = graft.sources.Scratch.dir("graft_ivf_str")
    Ivf.writeIndex(model, standing, dir)
    val srcDir = graft.sources.Scratch.path("graft_ivf_arr")
    Seq(0, 1).foreach { half =>
      val tmp = graft.sources.Scratch.dir("graft_ivf_tmp")
      arrivals.filter($"vec_id" % 10 === half * 5).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$half.parquet"))
      Thread.sleep(1000)
    }
    val ckpt = graft.sources.Scratch.dir("graft_ivf_ck")
    def start() = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, all, maxFilesPerTrigger = 1),
      ckpt)(graft.streaming.IndexMaintenance.ivfAppendBatch(spark, dir))
    val q = start()
    q.awaitTermination()
    // every arrival is in the lists exactly once
    val lists = spark.read.parquet(s"$dir/lists")
    assert(lists.count() === all.count())
    assert(lists.groupBy($"vec_id").count().filter($"count" > 1).count() === 0)
    // and the streamed index answers exactly the union-model search
    val unionModel = Ivf.IvfModel(model.centroids,
      lists.select($"vec_id", $"centroid_id"))
    Seq(2, 8).foreach { nprobe =>
      val onDisk = Ivf.searchIndex(spark, dir, queries, k = 5, nprobe = nprobe)
        .select("query_id", "rank", "neighbor_id", "cos")
        .as[(Long, Int, Long, Double)].collect().toSet
      val inMem = Ivf.search(unionModel, all, queries, k = 5, nprobe = nprobe)
        .select("query_id", "rank", "neighbor_id", "cos")
        .as[(Long, Int, Long, Double)].collect().toSet
      assert(onDisk === inMem, s"streamed append diverged at nprobe=$nprobe")
    }
    // the engine's own retry path: batch 1 appended, but its commit never
    // landed (deleted here), so the restarted query re-runs batch 1 under
    // the SAME batchId — its vectors are already in the lists
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", "1"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    val retry = start()
    retry.awaitTermination()
    assert(retry.recentProgress.exists(p => p.batchId == 1L && p.numInputRows > 0L),
      "the restart must re-run batch 1, or this spec proves nothing")
    val relisted = spark.read.parquet(s"$dir/lists")
    assert(relisted.count() === all.count(), "a re-run batch appends nothing")
    assert(relisted.groupBy($"vec_id").count().filter($"count" > 1).count() === 0,
      "no vec_id may appear twice after the re-run")
  }

  test("compactLists recovers an interrupted swap and never stages inside the lists tree") {
    val all = graft.sources.Tables.embeddings(spark, sf)
    val standing = all.filter($"vec_id" % 5 =!= 0)
    val model = Ivf.fit(standing, nLists = 8, iters = 2)
    val dir = graft.sources.Scratch.dir("graft_ivf_rec")
    Ivf.writeIndex(model, standing, dir)
    graft.ops.InternalCaches.release(
      Ivf.appendToIndex(spark, dir, all.filter($"vec_id" % 5 === 0)))
    val lists = new java.io.File(s"$dir/lists")
    def listDirs() = lists.listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("centroid_id=")).sortBy(_.getName)
    val before = spark.read.parquet(s"$dir/lists")
      .orderBy("vec_id").collect().map(_.toString).toSeq
    // simulate the one crash window: a list renamed aside into the stage,
    // its live directory gone
    val victim = listDirs().head
    val stage = new java.io.File(s"$dir/compact_stage")
    stage.mkdirs()
    val aside = new java.io.File(stage, victim.getName + ".old")
    assert(victim.renameTo(aside), "test setup: move list aside")
    // plus a stale tmp leftover that must be discarded, not restored
    val staleTmp = new java.io.File(stage, listDirs().head.getName)
    staleTmp.mkdirs()
    val n = Ivf.compactLists(spark, dir)
    assert(n > 0, "accreted lists should have been compacted")
    // the victim is back, the stage holds no leftovers, and no tmp/old
    // directory ever appeared INSIDE the partitioned tree
    assert(new java.io.File(lists, aside.getName.stripSuffix(".old")).exists())
    assert(stage.listFiles().isEmpty || !stage.exists())
    assert(lists.listFiles().forall(f =>
      f.getName.startsWith("centroid_id=") || !f.isDirectory),
      "no staging directory may pollute partition discovery")
    assert(listDirs().forall(_.listFiles().count(_.getName.endsWith(".parquet")) === 1))
    // content identical after recovery + compaction
    val after = spark.read.parquet(s"$dir/lists")
      .orderBy("vec_id").collect().map(_.toString).toSeq
    assert(after === before)
  }

  test("int8 quantization: reconstruction within half a step, extremes hit ±127") {
    val data = graft.sources.Tables.embeddings(spark, sf)
    val q = Similarity.quantizeInt8(data)
    val joined = q.join(
      data.select($"vec_id", posexplode($"embedding")).toDF("vec_id", "dim", "x"),
      Seq("vec_id", "dim"))
      .select($"vec_id", $"q", $"scale", $"x".cast("double").as("x"))
      .as[(Long, Int, Double, Double)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (vid, qv, scale, x) =>
      assert(qv >= -127 && qv <= 127, s"vec $vid q out of range: $qv")
      assert(math.abs(x - qv * scale) <= scale / 2 + 1e-12,
        s"vec $vid reconstruction off by more than half a step")
    }
    // every vector's max-|x| component must quantize to exactly ±127
    val extremes = joined.groupBy(_._1).forall { case (_, rows) =>
      rows.map(r => math.abs(r._2)).max == 127
    }
    assert(extremes, "the max-magnitude component must map to ±127")
  }

  test("embedding near-dup returns symmetric-free ordered pairs above threshold") {
    // planted pair (0,1) at cos ≈ 0.995: at production tuning (b=32, r=12)
    // the miss probability is (1-0.968^12)^32 ≈ 4e-16
    val pairs = Similarity.embeddingNearDup(vecs, threshold = 0.9, dim = 4)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
    assert(pairs.forall(p => p._1 < p._2))
    assert(!pairs.contains((0L, 4L)) && !pairs.contains((0L, 2L)))
  }

  test("semanticDedup: within-cluster lower-id pruning agrees with brute force and LSH pairs") {
    val data = graft.sources.Tables.embeddings(spark, sf)
    val tau = 0.4
    val out = Similarity.semanticDedup(data, nClusters = 8, tau = tau)
      .select($"vec_id", $"cluster_id", $"max_lower_cos", $"is_dup")
      .as[(Long, Int, Option[Double], Boolean)].collect()
    // every vector appears exactly once, clusters within range
    assert(out.length === data.count())
    assert(out.map(_._1).distinct.length === out.length)
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
    // brute-force recheck: is_dup ⟺ some lower-id same-cluster member has
    // cosine ≥ tau (computed independently driver-side on the collected set)
    val embs = data.select($"vec_id",
        VectorFunctions.toDouble($"embedding").as("e"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val byCluster = out.groupBy(_._2)
    out.foreach { case (id, cl, _, isDup) =>
      val lower = byCluster(cl).map(_._1).filter(_ < id)
      val expect = lower.exists(l => cos(embs(l), embs(id)) >= tau - 1e-12)
      assert(expect === isDup, s"vec $id in cluster $cl: dup flag mismatch")
    }
    // cross-check vs the LSH near-dup operator at the same threshold: any
    // LSH-found pair whose members share a cluster forces is_dup on the
    // higher id (the sketch can only add recall LSH already proved)
    val dupFlags = out.map(r => r._1 -> r._4).toMap
    val clusterOf = out.map(r => r._1 -> r._2).toMap
    val lshPairs = Similarity.embeddingNearDup(data, threshold = tau)
      .select($"v1", $"v2").as[(Long, Long)].collect()
    lshPairs.filter { case (a, b) => clusterOf(a) == clusterOf(b) }
      .foreach { case (a, b) =>
        assert(dupFlags(math.max(a, b)),
          s"LSH pair ($a,$b) shares a cluster but ${math.max(a, b)} not flagged")
      }
  }

  test("kCenter: farthest-first selection order and cover radii on the hand case") {
    // Gonzalez from seed 0 = (1,0,0,0): round 1 picks the antipode 4
    // (cos −1), round 2 the orthogonal 2 (max_cos 0), round 3 the
    // diagonal 3 (max_cos √½); already-selected centers self-score 1 and
    // can never be re-picked
    val out = Similarity.kCenter(vecs, k = 4)
      .orderBy("round_idx")
      .select("center_id", "sel_cos").as[(Long, Option[Double])].collect()
    assert(out.map(_._1).toSeq === Seq(0L, 4L, 2L, 3L))
    assert(out.head._2.isEmpty)
    val radii = out.tail.map(_._2.get)
    assert(math.abs(radii(0) - (-1.0)) < 1e-9)
    assert(math.abs(radii(1) - 0.0) < 1e-9)
    assert(math.abs(radii(2) - math.sqrt(0.5)) < 1e-9)
    // cover radius can only tighten (sel_cos nondecreasing) — the
    // farthest-first invariant
    assert(radii.sliding(2).forall(w => w(0) <= w(1)))
    // k = 1 degenerates to the seed alone
    assert(Similarity.kCenter(vecs, k = 1).count() === 1L)
  }

  test("normStats: exact norm², dims, and the zero / near-unit flags") {
    val data = Seq(
      (1L, Array(0f, 0f, 0f)),          // failed-encoder shape
      (2L, Array(0.6f, 0.8f, 0f)),      // exactly unit: 0.36+0.64
      (3L, Array(1f, 2f, 2f)),          // norm² = 9
      (4L, Array(0.1f, 0.1f, 0.1f))     // small but nonzero, far from unit
    ).toDF("vec_id", "embedding")
    val out = Similarity.normStats(data)
      .select($"vec_id", $"n_dims", $"norm_sq", $"is_zero", $"near_unit")
      .as[(Long, Long, Double, Boolean, Boolean)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq === Seq(3L, 3L, 3L, 3L))
    assert(out(0) === ((1L, 3L, 0.0, true, false)))
    assert(out(1)._3 === 1.0 && out(1)._5, "0.6/0.8 is exactly unit in float32")
    assert(out(2)._3 === 9.0 && !out(2)._4 && !out(2)._5)
    assert(!out(3)._4 && !out(3)._5)
  }

  test("embedding outliers: a planted off-cluster member is the one flagged row") {
    // five tight vectors on the x-axis plus one orthogonal stray, all
    // under ONE label: the stray's own-prototype cosine is far below the
    // group mean → most negative z, and the only |z| > 2
    val data = (1L to 5L).map(i =>
        (i, 0, Array(1.0f, (i * 0.01).toFloat, 0f))) :+
      (6L, 0, Array(0f, 0f, 1.0f))
    val out = graft.ops.Audit.groupZScoreOutliers(
        graft.ops.Similarity.memberPrototypeCos(data.toDF("vec_id", "label", "embedding"))
          .select($"vec_id", $"label", $"own"),
        org.apache.spark.sql.functions.col("label"),
        org.apache.spark.sql.functions.col("own"))
      .select($"vec_id", $"z", $"is_outlier")
      .as[(Long, Double, Boolean)].collect().sortBy(_._1)
    assert(out.length === 6)
    val flagged = out.filter(_._3).map(_._1).toSeq
    assert(flagged === Seq(6L), s"expected only the stray flagged: $out")
    assert(out.minBy(_._2)._1 === 6L)
  }

  test("clusterQuality separates tight clusters from a mislabeled one") {
    // labels 0/1 along orthogonal axes → coherent (own ≈ 1, margin > 0);
    // label 2 mixes both axes → its members sit closer to a foreign
    // prototype than label 0/1 members do
    val data = Seq(
      (1L, 0, Array(1.0f, 0.02f, 0f)), (2L, 0, Array(0.98f, 0f, 0.01f)),
      (3L, 1, Array(0f, 1.0f, 0.03f)), (4L, 1, Array(0.01f, 0.97f, 0f)),
      (5L, 2, Array(1.0f, 0.05f, 0f)), (6L, 2, Array(0f, 1.0f, 0.05f))
    ).toDF("vec_id", "label", "embedding")
    val out = graft.ops.Similarity.clusterQuality(data)
      .select($"label", $"n_members", $"mean_own_cos", $"mean_best_other_cos",
        $"mean_margin")
      .as[(Int, Long, Double, Double, Double)].collect().sortBy(_._1)
    assert(out.map(_._2).toSeq === Seq(2L, 2L, 2L))
    out.foreach { r =>
      assert(r._3 <= 1.0 + 1e-9 && r._4 <= 1.0 + 1e-9)
    }
    // tight axis clusters: high own-cosine, positive margin
    assert(out(0)._3 > 0.99 && out(0)._5 > 0)
    assert(out(1)._3 > 0.99 && out(1)._5 > 0)
    // the mixed label's centroid is diagonal: members are closer to the
    // axis prototypes than to their own → negative margin flags it
    assert(out(2)._5 < 0, s"mixed cluster should have negative margin: ${out(2)}")
  }

  test("embeddingDrift: hand-computed half-centroids; a one-half label reports NULL cosine") {
    val data = Seq(
      // label "a": half 0 = vecs 0,2 -> centroid (0.5, 0.5);
      //            half 1 = vec 1    -> centroid (1, 1) — same direction
      (0L, "a", Array(1.0f, 0.0f)),
      (2L, "a", Array(0.0f, 1.0f)),
      (1L, "a", Array(1.0f, 1.0f)),
      // label "b": only an even vec_id -> no half-1 centroid at all
      (4L, "b", Array(3.0f, 4.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = graft.ops.Similarity.embeddingDrift(data).collect()
    assert(out.map(_.getString(0)).toSeq === Seq("a", "b"))
    val a = out(0)
    assert((a.getLong(1), a.getLong(2)) === ((2L, 1L)))
    assert(math.abs(a.getDouble(3) - math.sqrt(0.5)) < 1e-12)
    assert(math.abs(a.getDouble(4) - math.sqrt(2.0)) < 1e-12)
    // parallel half-centroids -> cosine 1 (up to fp rounding)
    assert(math.abs(a.getDouble(5) - 1.0) < 1e-12)
    val b = out(1)
    assert((b.getLong(1), b.getLong(2)) === ((1L, 0L)))
    assert(b.getDouble(3) === 5.0)
    assert(b.isNullAt(4), "absent half must have NULL norm")
    assert(b.isNullAt(5), "one-half label must report NULL cosine, not a fake 0")
  }

  test("incremental embedding drift: state-served report equals batch bit for bit over blind-appended partials") {
    val all = graft.sources.Tables.embeddings(spark, sf)
    val dir = graft.sources.Scratch.dir("graft_edrift_spec")
    graft.ops.Similarity.embeddingDriftPartials(all.filter($"vec_id" < 200))
      .write.mode("overwrite").parquet(dir)
    graft.ops.Similarity.embeddingDriftPartials(
        all.filter($"vec_id" >= 200 && $"vec_id" < 350))
      .write.mode("append").parquet(dir)
    graft.ops.Similarity.embeddingDriftPartials(all.filter($"vec_id" >= 350))
      .write.mode("append").parquet(dir)
    // decimal sums and long counts are exactly additive, the serve tail is
    // shared code — the doubles must match the batch operator EXACTLY
    val served = graft.ops.Similarity.embeddingDriftFromTable(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = graft.ops.Similarity.embeddingDrift(all)
      .collect().map(_.toSeq).toSeq
    assert(served === batch)
    assert(served.nonEmpty)
  }
}
