package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._
import graft.sources.FileFormats

/** IVF (inverted-file) approximate nearest neighbor — the second scale path
  * next to [[Similarity.knnLsh]]: partition the vector space with k-means,
  * search only the `nprobe` lists whose centroids are closest to each
  * query. Recall scales smoothly with nprobe (nprobe = nLists ⇒ exact
  * brute force), and at 100 TB the lists can be written as a bucketed
  * table so a probe is a partition-pruned scan.
  *
  * Everything is deterministic (seed-free): initial centroids are the
  * lowest vec_ids, Lloyd iterations are a fixed count, ties in assignment
  * break by centroid id — so index builds are reproducible run to run.
  *
  * All steps are DataFrame plans: assignment is a broadcast of the (tiny)
  * centroid set against the vectors; the centroid update is
  * explode-by-dimension + one hash aggregate — no driver-side math over
  * collected vectors.
  */
object Ivf {

  /** A fitted index: `centroids` (centroid_id, cvec, cnrm) — small,
    * broadcastable — and `assignments` (vec_id, centroid_id). */
  final case class IvfModel(centroids: DataFrame, assignments: DataFrame)

  // NOT spread at this head: prepared frames are lazy multi-consumer
  // subtrees (fit derives `data` 2×/iteration), so a head spread
  // multiplies its exchange per derivation — the Similarity.prepared
  // measurement (r19). Pinned/single-consumer sites spread instead.
  private def prepared(embeddings: DataFrame): DataFrame =
    embeddings.select(col("vec_id"), toDouble(col("embedding")).as("emb"))
      .withColumn("nrm", norm(col("emb")))

  /** Nearest centroid per vector by cosine (ties by centroid id). */
  private def assign(data: DataFrame, centroids: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("centroid_id"))
    data.join(broadcast(centroids))
      .select(col("vec_id"), col("centroid_id"),
        cosinePrenormed(col("emb"), col("cvec"), col("nrm"), col("cnrm")).as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"))
  }

  /** Recompute centroids as the per-dimension mean of their members:
    * explode each member vector by dimension, aggregate (centroid, dim),
    * re-assemble arrays in dimension order. */
  private def updateCentroids(data: DataFrame, assignments: DataFrame): DataFrame =
    data.join(assignments, "vec_id")
      .select(col("centroid_id"), posexplode(col("emb")))
      .groupBy(col("centroid_id"), col("pos"))
      .agg(avg(col("col")).as("m"))
      .groupBy(col("centroid_id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("dims"))
      .select(col("centroid_id"), col("dims.m").as("cvec"))
      .withColumn("cnrm", norm(col("cvec")))

  /** Build the index: lowest-`nLists` vec_ids seed the centroids, then
    * `iters` Lloyd rounds. Centroid count should be ~√n; each round is two
    * linear passes. */
  def fit(embeddings: DataFrame, nLists: Int, iters: Int = 3): IvfModel = {
    val data = prepared(embeddings)
    var centroids = data.orderBy(col("vec_id")).limit(nLists)
      .select(col("vec_id").as("centroid_id"), col("emb").as("cvec"),
              col("nrm").as("cnrm"))
    (1 to iters).foreach { _ =>
      // localCheckpoint truncates the per-iteration lineage: without it the
      // final plan re-derives every Lloyd round from scratch (plan size and
      // scheduler cost grow linearly with iters). Each round supersedes the
      // previous checkpoint — release its blocks (bounded storage over any
      // iteration count)
      val next = updateCentroids(data, assign(data, centroids))
        .localCheckpoint(true)
      Checkpoints.unpersist(centroids)
      centroids = next
    }
    IvfModel(centroids, assign(data, centroids))
  }

  /** (query_id, centroid_id) pairs for each query's `nprobe` closest lists. */
  private def probes(q: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("centroid_id"))
    q.join(broadcast(centroids))
      .select(col("query_id"), col("centroid_id"),
        cosinePrenormed(col("q_emb"), col("cvec"), col("q_nrm"), col("cnrm")).as("ccos"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("centroid_id"))
  }

  private def preparedQueries(queries: DataFrame): DataFrame =
    prepared(queries)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"), col("nrm").as("q_nrm"))

  /** (query_id, vec_id) candidate pairs — the members of each query's
    * `nprobe` closest lists, id-only. Shared by [[search]]-style exact
    * re-ranking and the PQ ADC path ([[Pq.searchIvf]]). */
  private[ops] def probeCandidates(model: IvfModel, queries: DataFrame,
                                   nprobe: Int): DataFrame = {
    val q = preparedQueries(queries)
    model.assignments
      .join(broadcast(probes(q, model.centroids, nprobe)), "centroid_id")
      .select(col("query_id"), col("vec_id"))
  }

  /** Top-k by exact cosine among the members of each query's `nprobe`
    * closest lists. */
  def search(model: IvfModel, embeddings: DataFrame, queries: DataFrame,
             k: Int = 5, nprobe: Int = 4): DataFrame = {
    val data = prepared(embeddings)
    val q = preparedQueries(queries)
    val candidates = probeCandidates(model, queries, nprobe)
      .filter(col("vec_id") =!= col("query_id"))
    val scored = candidates
      .join(data, "vec_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePrenormed(col("emb"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    Similarity.topKPerQuery(scored, k)
  }

  /** Persist the fitted index as the 100 TB layout: every vector CO-LOCATED
    * with its list — `dir/lists` parquet partitioned by centroid_id (norms
    * precomputed, one directory per list) plus the tiny `dir/centroids`
    * table. A probe then touches only the probed lists' directories. */
  def writeIndex(model: IvfModel, embeddings: DataFrame, dir: String): Unit = {
    prepared(embeddings).join(model.assignments, "vec_id")
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id"), col("vec_id"))
      .write.mode("overwrite").partitionBy("centroid_id")
      .parquet(s"$dir/lists")
    model.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
  }

  /** Absorb an arrival batch into the on-disk index — the ANN twin of
    * [[Dedup.incrementalMinhash]]'s standing-state posture: new vectors
    * are assigned to the EXISTING centroids (no re-fit, the standing
    * lists never rewrite) and appended to their lists' directories, so
    * the recurring cost is arrival-batch-sized. Centroids staying fixed
    * is the trade that makes appends cheap; [[driftReport]] measures when
    * the accumulated drift warrants a re-fit. Returns the arrivals'
    * (vec_id, centroid_id) assignments for audit/union-model checks.
    *
    * Replay: arrivals whose vec_id the lists already hold are dropped
    * before the append, so a batch the engine re-runs after its append
    * landed (or a redelivered vector) adds nothing; they are also absent
    * from the returned assignments. The lists are scanned for ids only,
    * semi-joined against a broadcast of the batch's ids, and never
    * shuffled; the held ids (at most the batch's) are collected to the
    * driver. A vec_id that repeats inside one batch is still the
    * caller's to dedupe.
    *
    * The returned assignments frame is persisted through the
    * [[InternalCaches]] LRU (the write below materializes it into the
    * cache, so a caller's count/collect does not re-run the
    * broadcast-join + window assignment plan); its lifecycle is
    * LRU-owned — do NOT call `unpersist()` on it (that silently drops an
    * entry the LRU still counts). A caller that wants the blocks freed
    * before eviction calls [[InternalCaches.release]]. */
  def appendToIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    newEmbeddings: DataFrame): DataFrame = {
    val centroids = FileFormats.readParquet(spark, s"$dir/centroids")
    val arrived = prepared(newEmbeddings)
    // collected before the write: a lazy frame over `lists` would be
    // re-planned against the appended files when Spark re-caches the
    // persisted assignments by path, and would then drop every arrival
    val held = FileFormats.readParquet(spark, s"$dir/lists").select(col("vec_id"))
      .join(broadcast(arrived.select(col("vec_id"))), Seq("vec_id"), "left_semi")
      .collect().map(_.get(0))
    val data = arrived.filter(!col("vec_id").isin(held.toIndexedSeq: _*))
    val assigned = graft.ops.InternalCaches.persistBounded(assign(data, centroids))
    data.join(assigned, "vec_id")
      .repartition(col("centroid_id"))
      .sortWithinPartitions(col("centroid_id"), col("vec_id"))
      .write.mode("append").partitionBy("centroid_id")
      .parquet(s"$dir/lists")
    assigned
  }

  /** Per-list health of the on-disk index — the re-fit decision input:
    * with centroids frozen across appends, member→centroid cosine sags
    * and list sizes skew as the distribution moves. One scan of the lists
    * (ids + vectors) against the broadcast centroids, one |lists|-sized
    * aggregate:
    * `n_members`, `mean_cos` / `min_cos` (member→centroid cosine — the
    * displacement measure; 1.0 = members sit on their centroid),
    * `size_ratio` (n_members / mean list size — probe-cost skew: a hot
    * list makes every probe touching it expensive). Re-fit when mean_cos
    * sags or size_ratio spikes past the operator's thresholds. */
  def driftReport(spark: org.apache.spark.sql.SparkSession,
                  dir: String): DataFrame = {
    val lists = FileFormats.readParquet(spark, s"$dir/lists")
    val centroids = FileFormats.readParquet(spark, s"$dir/centroids")
    val per = lists.join(broadcast(centroids), "centroid_id")
      .select(col("centroid_id"),
        cosinePrenormed(col("emb"), col("cvec"), col("nrm"), col("cnrm")).as("cos"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_members"),
           avg(col("cos")).as("mean_cos"), min(col("cos")).as("min_cos"))
    val totals = per.agg(count(lit(1)).as("n_lists"),
      sum(col("n_members")).as("n_vectors"))
    per.crossJoin(broadcast(totals))
      .select(col("centroid_id"), col("n_members"), col("mean_cos"),
        col("min_cos"),
        (col("n_members") * col("n_lists") /
          col("n_vectors").cast("double")).as("size_ratio"))
  }

  /** What one [[refreshIndex]] maintenance step did: arrival rows
    * absorbed, whether drift triggered a re-fit, and (when it didn't) how
    * many accreted list directories were compacted. */
  final case class IvfRefresh(appended: Long, refit: Boolean,
                              compactedLists: Int)

  /** Compact the index's accreted list directories — every
    * [[appendToIndex]] adds a file per touched centroid directory, so a
    * standing index accretes files at arrival-batch rate and probe scans
    * degrade to open-per-small-file. Each directory holding more than
    * `maxFiles` parquet files is rewritten into a row-count-verified copy
    * and swapped in by rename ([[FileFormats.swapCompacted]], the
    * moved-aside original staged too). All staging lives OUTSIDE the
    * partitioned `lists/` tree (under `$dir/compact_stage`) — a tmp or
    * moved-aside directory INSIDE the tree would be discovered as a bogus
    * `centroid_id` partition value on the next read, silently turning the
    * partition column into strings and duplicating or orphaning a list.
    * An interrupted swap therefore never corrupts discovery; the one
    * crash window (list renamed aside, replacement not yet in) is
    * self-healing: the next call finds the `.old` copy with no live
    * directory and restores it before compacting anything.
    * Directory-at-a-time, so the cost is proportional to the ACCRETED
    * lists, not the index — untouched directories are never read.
    * Hadoop FS API throughout (works on HDFS/S3A, not just file:).
    *
    * @return number of directories compacted */
  def compactLists(spark: org.apache.spark.sql.SparkSession, dir: String,
                   maxFiles: Int = 1): Int = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    val lists = new Path(s"$dir/lists")
    val fs = lists.getFileSystem(hconf)
    if (!fs.exists(lists)) return 0
    val stage = new Path(s"$dir/compact_stage")
    // recovery + hygiene from any interrupted prior run: restore a moved-
    // aside list whose live directory is missing; drop every other leftover
    if (fs.exists(stage)) {
      fs.listStatus(stage).foreach { st =>
        val name = st.getPath.getName
        val live = new Path(lists, name.stripSuffix(".old"))
        if (name.endsWith(".old") && !fs.exists(live)) {
          if (!fs.rename(st.getPath, live)) throw new java.io.IOException(
            s"could not restore ${st.getPath} to $live after an interrupted compaction")
        } else fs.delete(st.getPath, true)
      }
    }
    fs.mkdirs(stage)
    fs.listStatus(lists).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("centroid_id="))
      .count { d =>
        val files = fs.listStatus(d.getPath)
          .count(_.getPath.getName.endsWith(".parquet"))
        val accreted = files > maxFiles
        if (accreted) {
          val name = d.getPath.getName
          val tmp = new Path(stage, name)
          val expected = FileFormats.footerRowCount(spark, d.getPath.toString).getOrElse(0L)
          FileFormats.compact(spark, d.getPath.toString, tmp.toString)
          FileFormats.swapCompacted(spark, d.getPath.toString, tmp.toString, expected,
            new Path(stage, s"$name.old").toString)
        }
        accreted
      }
  }

  /** One standing-index maintenance step — the lifecycle that keeps an
    * on-disk IVF index healthy across arrival batches without paying a
    * re-fit per batch: absorb the arrivals ([[appendToIndex]], frozen
    * centroids), read the [[driftReport]], and EITHER re-fit — any list's
    * `mean_cos` sagged below `minMeanCos` or `size_ratio` spiked past
    * `maxSizeRatio`, i.e. the frozen-centroid trade has gone bad — or
    * just compact the accreted list files ([[compactLists]]) and keep the
    * standing lists.
    *
    * A re-fit rebuilds from the index's own lists (ids + vectors — the
    * index is self-contained), with the SAME deterministic [[fit]] a
    * from-scratch build runs: lowest-vec_id seeds, fixed Lloyd rounds —
    * so the refreshed index is bit-identical to one built fresh over the
    * accumulated corpus (spec-pinned). The rebuilt index is written to a
    * sibling tmp directory and swapped in by rename — the live index is
    * readable until the swap and intact if the rebuild dies. */
  def refreshIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                   arrivals: Option[DataFrame], nLists: Int, iters: Int = 3,
                   minMeanCos: Double = 0.0,
                   maxSizeRatio: Double = Double.MaxValue): IvfRefresh = {
    val appended = arrivals match {
      case Some(a) if !a.isEmpty =>
        val assigned = appendToIndex(spark, dir, a)
        try assigned.count()
        finally graft.ops.InternalCaches.release(assigned)
      case _ => 0L
    }
    val drifted = !driftReport(spark, dir)
      .filter(col("mean_cos") < minMeanCos ||
              col("size_ratio") > maxSizeRatio)
      .isEmpty
    if (drifted) {
      val vecs = FileFormats.readParquet(spark, s"$dir/lists")
        .select(col("vec_id"), col("emb").as("embedding"))
      val model = fit(vecs, nLists, iters)
      val tmp = s"$dir.refit_tmp"
      writeIndex(model, vecs, tmp) // reads the OLD lists, writes the tmp
      Checkpoints.unpersist(model.centroids)
      val p = new org.apache.hadoop.fs.Path(dir)
      val t = new org.apache.hadoop.fs.Path(tmp)
      val old = new org.apache.hadoop.fs.Path(s"$dir.refit_old")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(old, true)
      if (!fs.rename(p, old))
        throw new java.io.IOException(s"could not move $dir aside to $old")
      if (!fs.rename(t, p)) {
        if (!fs.rename(old, p))
          throw new java.io.IOException(
            s"could not swap $tmp into $dir AND could not restore — the " +
              s"index is intact at $old; move it back manually")
        throw new java.io.IOException(s"could not swap $tmp into $dir")
      }
      fs.delete(old, true)
      IvfRefresh(appended, refit = true, compactedLists = 0)
    } else {
      IvfRefresh(appended, refit = false,
        compactedLists = compactLists(spark, dir))
    }
  }

  /** Search the on-disk index. The candidate join broadcasts the (tiny)
    * probe set against the partition column, so Spark's dynamic partition
    * pruning restricts the scan to the probed lists' directories — the
    * "probe = pruned scan" promise made physical; unprobed lists are never
    * read. Results are identical to [[search]] on the in-memory model. */
  def searchIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                  queries: DataFrame, k: Int = 5, nprobe: Int = 4): DataFrame = {
    val lists = FileFormats.readParquet(spark, s"$dir/lists")
    val centroids = FileFormats.readParquet(spark, s"$dir/centroids")
    val q = preparedQueries(queries)
    val probed = probes(q, centroids, nprobe)
    val scored = lists.join(broadcast(probed), "centroid_id")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosinePrenormed(col("emb"), col("q_emb"), col("nrm"), col("q_nrm")).as("cos"))
    Similarity.topKPerQuery(scored, k)
  }
}
