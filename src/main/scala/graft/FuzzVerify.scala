package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import graft.sources.FileFormats

/** Oracle-diff fuzz harness: re-run a random registry subset over a
  * layout-PERTURBED copy of the input tables and let the DuckDB oracle
  * (which reads the ORIGINAL tables — layout-independent set semantics)
  * re-check hash equality.
  *
  * The driver's correctness gate always sees the same seed-42 parquet in
  * the same row order with the same file splits. Any operator whose result
  * silently depends on input layout — float reduction order, `first()`
  * without an ordering, partition-index-dependent ids, tie-breaking by
  * arrival order — passes that gate by accident and breaks the moment a
  * real cluster reads the same data with different splits. This harness is
  * the cheap pre-cluster version of that moment: shuffle the rows, force a
  * hostile partition count (1 = everything collapses into one task; 7 =
  * coprime with every key modulus in the data; 32 = the session default),
  * and require the bit-identical oracle hash to still match.
  *
  * Usage:
  *   sbt "runMain graft.FuzzVerify <sfDir> <outDir> <seed> <parts> [n]"
  *   python3 tools/verify_local.py <sfDir> <outDir>     # oracle on ORIGINALS
  *
  * `n` queries are drawn (default 25) from the registry by a Random seeded
  * with `seed`, so a failing draw is reproducible exactly from the CLI args
  * on any machine — the perturbation key is derived from row CONTENT
  * (xxhash64 of every column, seed-mixed), never from `rand()`, whose
  * per-split seeding would make the layout depend on the reading machine's
  * split planning. Results land in `outDir/<name>/` plus the matching
  * `oracle_sql.json`, i.e. the exact shape [[Verify]] produces —
  * tools/verify_local.py runs unchanged.
  */
object FuzzVerify {
  val tables: Seq[String] = graft.sources.Tables.all

  private val usage =
    "usage: sbt \"runMain graft.FuzzVerify <sfDir> <outDir> <seed> <parts> [n]\""

  def main(args: Array[String]): Unit = {
    if (args.length < 4) { System.err.println(usage); sys.exit(2) }
    val (sfDir, outDir) = (args(0), args(1))
    val seed = args(2).toLong
    val parts = args(3).toInt
    val n = if (args.length > 4) args(4).toInt else 25
    require(parts > 0, "parts must be positive")
    val spark = GraftSession.get("graft-fuzz")
    new java.io.File(outDir).mkdirs()

    // 1. Perturb: scrambled row order, exact partition count. The scramble
    // key is xxhash64 over EVERY column plus the seed — pure row content,
    // so the perturbed layout is bit-identical across machines regardless
    // of how the reader split the source files (rand()'s per-split seeding
    // would break that reproducibility claim). Hash-partition on the key
    // (NOT round-robin repartition, which preserves arrival runs), then
    // sort within partitions by it — every original adjacency and
    // file-split boundary is destroyed, values untouched. Duplicate rows
    // collide to one key; a tie in the scramble order is itself a layout
    // perturbation, not a defect.
    val fuzzDir = s"$outDir/tables"
    tables.foreach { t =>
      val src = s"$sfDir/$t.parquet"
      if (new java.io.File(src).exists()) {
        val df = FileFormats.readParquet(spark, src)
        df.withColumn("__fuzz",
            xxhash64((lit(seed) +: df.columns.toSeq.map(col)): _*))
          .repartition(parts, col("__fuzz"))
          .sortWithinPartitions("__fuzz")
          .drop("__fuzz")
          .write.mode("overwrite").parquet(s"$fuzzDir/$t.parquet")
      }
    }

    // 2. Draw the subset (seeded — a failure reproduces from the CLI args
    // alone) and run it against the perturbed copies.
    val rng = new scala.util.Random(seed)
    val picked = rng.shuffle(SparkEntry.registry.toList).take(n).sortBy(_.name)
    println(s"[fuzz] seed=$seed parts=$parts -> ${picked.map(_.name).mkString(",")}")
    var failed = List.empty[String]
    picked.foreach { q =>
      // a stale result from a previous run on a reused outDir must not
      // survive a failed draw — verify_local.py would PASS against it;
      // delete first so a failure reliably reads as "no spark output"
      val dest = Paths.get(s"$outDir/${q.name}")
      if (Files.exists(dest)) {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(dest)
        try walk.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(Files.delete)
        finally walk.close()
      }
      try q.run(spark, fuzzDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${q.name}")
      catch { case e: Throwable =>
        failed ::= q.name
        System.err.println(s"[fuzz] ${q.name} failed: ${e.getMessage}")
      }
    }

    // 3. Oracles for the drawn subset only, Verify's escaping contract.
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      JsonEscape.obj(picked.flatMap(q => q.oracle.map(q.name -> _))))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[fuzz] ${failed.size} queries threw: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
