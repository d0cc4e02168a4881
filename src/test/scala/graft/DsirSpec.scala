package graft

import org.apache.spark.sql.functions._
import graft.ops.Dsir

class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "a b a b", "tgt"), // the target-domain doc
    (2L, "a b x", "raw"),   // shares 'a b' with the target
    (3L, "x y x y", "raw"), // disjoint from the target
    (4L, "solo", "raw"),    // one token -> no bigram features
    (5L, "", "raw")         // empty -> no bigram features
  ).toDF("doc_id", "text", "source")

  private val isTgt = col("source") === "tgt"

  // Smoothed ratio with target total 3, raw total 8 (hand-counted bigrams).
  private def ratio(nT: Long, nR: Long): Double =
    ((nT + 1).toDouble / (3 + Dsir.B)) / ((nR + 1).toDouble / (8 + Dsir.B))

  test("weights: hand-computed smoothed ratios, target-likeness ordering") {
    // The hand computation assumes the 5 distinct bigram strings land in 5
    // distinct hash buckets — assert that, so a (vanishingly unlikely) md5
    // collision fails loudly here instead of as a wrong expected value.
    val nBuckets = Seq("a b", "b a", "b x", "x y", "y x")
      .toDF("f").select(Dsir.featHash(col("f")).as("fh"))
      .distinct().count()
    assert(nBuckets === 5)

    val w = Dsir.weights(docs, isTgt)
      .orderBy("doc_id").collect()
    assert(w.map(_.getAs[Long]("doc_id")).toSeq === Seq(1L, 2L, 3L),
      "feature-less docs (one token / empty) must be absent")
    assert(w.map(_.getAs[Int]("n_feats")).toSeq === Seq(3, 2, 3))

    // Occurrence-mean of per-feature ratios (decimal(38,6) quantization in
    // the engine bounds each term's error by 5e-7 -> 1e-5 tolerance).
    val exp1 = (2 * ratio(2, 3) + ratio(1, 1)) / 3 // a b, b a, a b
    val exp2 = (ratio(2, 3) + ratio(0, 1)) / 2     // a b, b x
    val exp3 = (2 * ratio(0, 2) + ratio(0, 1)) / 3 // x y, y x, x y
    val got = w.map(_.getAs[Double]("dsir_weight"))
    assert(math.abs(got(0) - exp1) < 1e-5)
    assert(math.abs(got(1) - exp2) < 1e-5)
    assert(math.abs(got(2) - exp3) < 1e-5)
    // The target doc outranks the overlapping doc outranks the disjoint doc.
    assert(got(0) > got(1) && got(1) > got(2))
  }

  test("weights: empty target degrades to the uniform model, stays defined") {
    val w = Dsir.weights(docs, lit(false)).orderBy("doc_id").collect()
    assert(w.length === 3)
    assert(w.forall(_.getAs[Double]("dsir_weight") > 0.0))
    // n_t = 0 everywhere: weight is the mean of (1/B) / ((n_r+1)/(Nr+B)),
    // maximized by the doc with the rarest features.
    val byDoc = w.map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Double]("dsir_weight")).toMap
    assert(byDoc(3L) > byDoc(1L), "rare-feature doc scores higher under uniform target")
  }

  test("resample: proportional deterministic membership, max doc at rate 100") {
    val kept = Dsir.resample(docs, isTgt).orderBy("doc_id").collect()
    assert(kept.nonEmpty)
    // Accept test replayed row by row.
    assert(kept.forall(r =>
      r.getAs[Int]("sample_bucket") < r.getAs[Int]("accept_rate")))
    // The max-weight doc (the target doc itself) is accepted at rate 100,
    // so it is always a member.
    val d1 = kept.find(_.getAs[Long]("doc_id") == 1L)
    assert(d1.isDefined && d1.get.getAs[Int]("accept_rate") === 100)
    // Rates are monotone in the weight.
    val rates = kept.map(r =>
      r.getAs[Double]("dsir_weight") -> r.getAs[Int]("accept_rate"))
    assert(rates.sortBy(_._1).map(_._2).sameElements(
           rates.sortBy(_._1).map(_._2).sorted))
    // Membership is a pure function of (doc_id, weights): replay it from
    // the weights frame with the same primitives.
    val w = Dsir.weights(docs, isTgt)
    val wmax = w.agg(max("dsir_weight")).as[Double].head()
    val expected = w.withColumn("b", graft.ops.Sampling.bucket(col("doc_id")))
      .withColumn("ar", floor(lit(100.0) * col("dsir_weight") / lit(wmax)).cast("int"))
      .filter(col("b") < col("ar"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept.map(_.getAs[Long]("doc_id")).toSet === expected)
  }

  test("streaming DSIR maintenance: served weights equal the batch operator bit for bit") {
    val corpus = graft.sources.Tables.documents(spark, sf)
    val b1 = corpus.filter($"doc_id" < 200)
    val b2 = corpus.filter($"doc_id" >= 200 && $"doc_id" < 350)
    val b3 = corpus.filter($"doc_id" >= 350)
    val countsDir = graft.sources.Scratch.dir("graft_dsir_cnt")
    val srcDir = graft.sources.Scratch.path("graft_dsir_src")
    Seq(b1, b2, b3).zipWithIndex.foreach { case (b, i) =>
      val tmp = graft.sources.Scratch.dir("graft_dsir_tmp")
      b.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, srcDir.resolve(s"$i.parquet"))
      Thread.sleep(1000)
    }
    val ckpt = graft.sources.Scratch.dir("graft_dsir_ck")
    val q = graft.streaming.StateSink.run(
      graft.streaming.EventsCdc.readEventStream(
        spark, srcDir.toString, corpus, maxFilesPerTrigger = 1),
      ckpt)((b, id) => graft.streaming.StateSink.appendIdempotent(
        Dsir.countPartials(b, col("source") === "src0"), id, countsDir))
    q.awaitTermination()
    val state = spark.read.parquet(countsDir)
    assert(state.select($"batch_id").distinct().count() === 3)
    // summed partials equal the one-shot count model exactly
    val summed = state.groupBy($"fh")
      .agg(sum($"n_t").as("n_t"), sum($"n_r").as("n_r"))
      .as[(Long, Long, Long)].collect().toMap2
    val oneShot = Dsir.countPartials(corpus, col("source") === "src0")
      .as[(Long, Long, Long)].collect().toMap2
    assert(summed === oneShot, "per-batch partials must sum to the corpus model")
    // the served read (state + corpus scan) equals the batch operator
    // BIT FOR BIT — exact integer counts, identical ratio tree, decimal
    // mean; compare raw Double bits, not a tolerance
    val served = Dsir.weightsFromTable(spark, countsDir, corpus)
      .as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3))).toSet
    val batch = Dsir.weights(corpus, col("source") === "src0")
      .as[(Long, Int, Double)].collect()
      .map(r => (r._1, r._2, java.lang.Double.doubleToRawLongBits(r._3))).toSet
    assert(served.nonEmpty)
    assert(served === batch, "served-from-state weights drifted from the batch operator")
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> ((r._2, r._3))).toMap
  }
}
