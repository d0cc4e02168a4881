package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.DEFAULT_PARTITION_NAME
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CSV/JSON readers with explicit schemas, and the partitioned star-schema
  * parquet sink.
  *
  * Explicit schemas are mandatory at scale: schema inference is an extra
  * full pass over the data, and inferred types drift between runs.
  */
object FileFormats {

  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, delimiter: String = ","): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("delimiter", delimiter)
      .option("mode", "PERMISSIVE")
      .csv(path)

  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)

  /** ORC with an explicit schema — the interchange format when the OLAP
    * estate is Hive/Trino-centric; columnar with min/max stripes, so the
    * same pushdown/pruning posture as parquet applies. */
  def orc(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  def writeOrc(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite").orc(outDir)

  /** Small-file compaction — the maintenance pass every long-lived table
    * needs: incremental syncs and streaming sinks accrete kilobyte files,
    * and at read time every file costs a task launch, a footer fetch, and
    * a seek — a million-file table spends longer scheduling than scanning.
    * Rewrites the directory into ceil(totalBytes / targetBytes) files via
    * `coalesce` (a NARROW repartition: input files are grouped onto
    * output tasks with no shuffle — compaction is IO-bound and must not
    * pay an exchange).
    *
    * Sizes come from the Hadoop FileSystem API, so the same call works on
    * HDFS/S3A/local. Writes to `outDir` rather than in place: the swap is
    * the caller's (atomic rename / metastore repoint) — a failed in-place
    * overwrite would destroy the only copy. For a date-partitioned table,
    * run per partition directory (only fresh partitions need compacting):
    * a directory holding `k=v` partition subdirectories is refused with an
    * `IllegalArgumentException` before anything is written, since the
    * rewrite would flatten it into unpartitioned files.
    *
    * @return number of output files chosen */
  def compact(spark: SparkSession, dir: String, outDir: String,
              targetBytes: Long = 128L * 1024 * 1024): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = visible(fs, p)
    val partitions = entries.filter(s => s.isDirectory && s.getPath.getName.contains("="))
    require(partitions.isEmpty,
      s"compact($dir): the directory is partitioned (${partitions.head.getPath.getName}" +
        s" and ${partitions.size - 1} more); compact each partition directory " +
        "on its own, or the rewrite would drop the partition layout")
    val total = entries
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
    val n = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    readParquet(spark, dir).coalesce(n)
      .write.mode("overwrite").parquet(outDir)
    n
  }

  /** Swap a verified compacted rewrite into place. The guard encodes the
    * destroyed-only-copy hazard [[compact]]'s scaladoc hands to callers: if
    * the rewrite's row count differs from `expectedRows`, the swap is
    * REFUSED — the original directory is untouched and the rewrite is
    * deleted. On success the original moves aside to `aside`, the
    * rewrite renames in, and only then is the old data deleted; a failed
    * second rename restores the original. A crash between the two renames
    * leaves the original at `aside` with no `dir`; [[compactAndSwap]] and
    * [[graft.ops.Ivf.compactLists]] restore it on their next call. Renames go through the Hadoop FS API
    * (atomic metadata moves on HDFS/local; on S3A rename is a copy —
    * repoint a metastore there instead). */
  private[graft] def swapCompacted(spark: SparkSession, dir: String,
                                   tmpDir: String, expectedRows: Long,
                                   aside: String): Unit = {
    val src = new Path(dir)
    val tmp = new Path(tmpDir)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rewritten = footerRowCount(spark, tmpDir).getOrElse(0L)
    if (rewritten != expectedRows) {
      fs.delete(tmp, true)
      throw new IllegalStateException(
        s"compaction swap refused for $dir: rewrite has $rewritten rows, " +
          s"source has $expectedRows — original directory left untouched")
    }
    val old = new Path(aside)
    fs.delete(old, true) // stale leftover from an interrupted prior swap
    if (!fs.rename(src, old))
      throw new java.io.IOException(s"could not move $dir aside to $old")
    if (!fs.rename(tmp, src)) {
      // restore — the original is still the only copy; if even the restore
      // fails, say exactly where the data is instead of implying it's back
      if (!fs.rename(old, src))
        throw new java.io.IOException(
          s"could not move $tmpDir into $dir AND could not restore the " +
            s"original — the data is intact at $old; the next compaction " +
            "call restores it")
      throw new java.io.IOException(s"could not move $tmpDir into $dir")
    }
    fs.delete(old, true)
  }

  /** [[compact]] plus the atomic swap: rewrite into `<dir>.compact_tmp`,
    * verify the row count survived, then rename into place through
    * `<dir>.compact_old` (refusing the swap — original untouched — on any
    * row-count mismatch). A swap
    * interrupted after the original moved aside is recovered first: with
    * `dir` missing and `<dir>.compact_old` present, the original renames
    * back before anything is compacted.
    * @return number of output files chosen */
  def compactAndSwap(spark: SparkSession, dir: String,
                     targetBytes: Long = 128L * 1024 * 1024): Int = {
    val src = new Path(dir)
    val old = new Path(dir + ".compact_old")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(src) && fs.exists(old) && !fs.rename(old, src))
      throw new java.io.IOException(
        s"could not restore $old to $dir after an interrupted compaction")
    val expected = footerRowCount(spark, dir).getOrElse(0L)
    val tmpDir = dir + ".compact_tmp"
    val n = compact(spark, dir, tmpDir, targetBytes)
    swapCompacted(spark, dir, tmpDir, expected, old.toString)
    n
  }

  /** Spark's rule for the names a file-source read skips
    * (`InMemoryFileIndex.shouldFilterOutPathName`): `_`-prefixed names
    * other than `k=v` partition directories (`_SUCCESS`, `_temporary`,
    * parquet summary files), `.`-prefixed ones (checksums, hidden files),
    * and `._COPYING_` files still being uploaded. */
  private def skipped(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** Entries of `dir` a read would see. `listStatus`, never `listFiles`:
    * the latter builds a `LocatedFileStatus` per file, which on the local
    * filesystem forks a process per file to read its permissions (18.4 s
    * for the 2,405 files of an sf0.1 fact, against 0.25 s this way). */
  private def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot(s => skipped(s.getPath.getName))

  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    visible(fs, dir).flatMap { s =>
      if (s.isDirectory) dataFiles(fs, s.getPath) else Seq(s)
    }

  /** Row count of a parquet directory, summed from the row-group counts in
    * each data file's footer: a directory walk in the calling JVM
    * (partition directories included, [[skipped]] names excluded) and one
    * footer read per file, no Spark job. None when the directory is missing or holds no data
    * file, the cases where Spark's parquet read of `dir` fails to resolve.
    * `readFooter` from the listed status reads only the footer: 0.6 s for
    * 2,405 files, where `ParquetFileReader.open` per file took 26 s. */
  private[graft] def footerRowCount(spark: SparkSession,
                                    dir: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val files = if (fs.exists(p)) dataFiles(fs, p) else Nil
    if (files.isEmpty) None
    else Some(files.map { f =>
      ParquetFileReader.readFooter(conf, f, NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum)
  }

  /** Parquet summary files, which Spark's listing keeps and its schema
    * inference reads before any data footer. */
  private def summary(name: String): Boolean =
    name.startsWith("_metadata") || name.startsWith("_common_metadata")

  /** The leaf directory a schema is read from, with its files in name
    * order: the last `k=v` directory in name order at each level (for a
    * date-partitioned fact, the latest date), passing over
    * `__HIVE_DEFAULT_PARTITION__` leaves, whose NULL value would infer the
    * partition column as a string. The first directory on the way down
    * that holds a file is the leaf: an unpartitioned directory is its own
    * leaf. Summary files count as files here, so a directory holding one
    * is a leaf whose files include it. None when no such leaf holds a
    * file. */
  private def leaf(fs: FileSystem, d: Path): Option[(Path, Seq[FileStatus])] = {
    val entries = fs.listStatus(d).toSeq.filter { s =>
      val name = s.getPath.getName
      !skipped(name) || summary(name)
    }
    val files = entries.filter(_.isFile)
    if (files.nonEmpty) Some((d, files.sortBy(_.getPath.getName)))
    else entries.map(_.getPath)
      .filter(c => c.getName.contains("=") &&
        !c.getName.endsWith("=" + DEFAULT_PARTITION_NAME))
      .sortBy(_.getName)(Ordering[String].reverse)
      .iterator.flatMap(c => leaf(fs, c)).nextOption()
  }

  /** `reader.parquet(path)` with the data schema of the first of `files`'
    * footers, so Spark's schema inference, a one-task job per read even
    * for a single footer, never runs. The footer goes through Spark's own
    * conversion
    * ([[org.apache.spark.sql.execution.datasources.parquet.GraftParquetShim]]),
    * and partition columns are left to Spark, which still infers them from
    * the directory names. With no file, or with a summary file among them
    * (Spark reads it first), the read is Spark's own, so it fails or
    * answers exactly as Spark does. */
  private def withFooterSchema(spark: SparkSession, reader: DataFrameReader,
                               path: String, files: Seq[FileStatus]): DataFrame =
    if (files.isEmpty || files.exists(f => summary(f.getPath.getName)))
      reader.parquet(path)
    else {
      val f = files.head
      val conf = spark.sparkContext.hadoopConfiguration
      val footer = new Footer(f.getPath, ParquetFileReader.readFooter(conf, f, NO_FILTER))
      reader.schema(GraftParquetShim.readSchema(Seq(footer), spark).get).parquet(path)
    }

  /** The engine's parquet read: Spark's read of `path` with its data
    * schema taken from ONE footer read on the driver, so opening a table
    * runs no Spark job. The file is the first in name order of [[leaf]]'s
    * directory; a directory whose only leaves are default partitions
    * takes the first data file in path order. Spark's own pick is the first
    * data file of its listing; this one depends only on names, and it is
    * the same leaf [[standingSchema]] anchors the schema gate on. A
    * missing path, a directory with no data file and a directory holding a
    * summary file are read by Spark itself (same exception, same answer).
    *
    * Like Spark's own read, it assumes the data files agree on a schema;
    * a directory spanning schema versions is read through [[readEvolved]]. */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      try {
        val st = fs.getFileStatus(p)
        if (st.isFile) Seq(st)
        else leaf(fs, p).map(_._2)
          .getOrElse(dataFiles(fs, p).sortBy(_.getPath.toString))
      } catch { case _: java.io.FileNotFoundException => Nil }
    withFooterSchema(spark, spark.read, path, files)
  }

  /** The standing schema of a parquet directory, if it exists and holds
    * data — the anchor the [[SchemaEvolution]] gate compares a new batch
    * against. Read from [[leaf]]'s directory with `basePath` at the table
    * root, so partition columns keep their names and inferred types, and
    * its data schema from that leaf's first footer, as [[readParquet]]
    * does; an unpartitioned directory is its own leaf. One whose only
    * leaves are default partitions is read whole through [[readParquet]]. The cost is
    * one directory listing per level down to the leaf, a listing of the
    * leaf by Spark and one footer read, and no Spark job: on a
    * 2,405-partition sf0.1 fact, 0.08–0.12 s and 0 jobs, against
    * 0.73–0.83 s and 1 job (the schema job) for Spark's whole read listed
    * on the driver, as an in-process [[graft.GraftSession]] lists it
    * (4-core shared host, load 3–4). A cluster master's whole read still
    * runs Spark's listing job, one task per partition directory
    * (7.7–10.8 s on the same fact in-process).
    *
    * Not a mergeSchema sweep: the gate anchors on that leaf's layout; a
    * mixed-schema dir is read back through [[readEvolved]]. */
  private[graft] def standingSchema(spark: SparkSession,
                                    dir: String): Option[StructType] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else try Some((leaf(fs, p) match {
      case Some((l, files)) =>
        withFooterSchema(spark, spark.read.option("basePath", dir),
          l.toString, files)
      case None => readParquet(spark, dir)
    }).schema)
    catch { case _: AnalysisException => None }
  }

  /** Read a standing table that may span schema versions (a widened batch
    * wrote newer files with more columns): `mergeSchema` unions every
    * footer's schema and older files surface the added columns as NULL —
    * the read half of the [[SchemaEvolution]] contract. The one engine
    * read [[readParquet]] does not serve: one footer cannot answer a
    * union, so Spark's job reads every footer, and merges them in its
    * listing order. */
  def readEvolved(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(dir)

  /** Fact-table sink: partitioned by `date_key` (so every downstream
    * date-range query prunes partitions at the source) and sorted within
    * partitions on (`date_key`, `l_orderkey`, `l_linenumber`). The date
    * leads the sort deliberately: the V1 dynamic-partition writer requires
    * rows sorted by partition columns and would otherwise INSERT ITS OWN
    * sort, discarding the join-key order — leading with it satisfies the writer
    * and keeps rowgroups orderkey-ordered (run-length-friendly encoding,
    * parquet min/max skipping on the sort prefix). The repartition on the
    * partition column sends every partition value to exactly ONE task, so
    * each directory receives exactly one file (spec-asserted) — without it
    * every task can hold every date and a P-partition write creates up to
    * tasks × P files.
    *
    * `granularity` sizes the directories to the data: `"day"` (default) is
    * the production posture — at 100 TB a day of fact is tens of GB and a
    * date-range query prunes to exactly the days it needs. At small scale
    * a day is a few KB and the write is dominated not by data but by the
    * per-directory commit protocol (one task-output rename per directory,
    * merged sequentially at job commit — ~2400 directories of metadata ops
    * for a 7-year TPC-H fact). `"month"` truncates the partition key to
    * month grain (~80 directories for the same span), the appropriate
    * layout below ~1 GB/day; rows stay date-sorted within each month file,
    * so day-level predicates still skip row groups via parquet min/max on
    * the leading sort column even though directory pruning is month-grain. */
  def writeFact(fact: DataFrame, outDir: String,
                granularity: String = "day"): Unit = {
    // schema-evolution gate BEFORE the overwrite touches anything: a
    // widened fact is fine (full rewrite carries the new column), a
    // narrowed or retyped one refuses loudly while the standing data is
    // still intact
    requireFactEvolvable(standingSchema(fact.sparkSession, outDir),
      fact.schema, s"writeFact($outDir)")
    writeFactUnchecked(fact, outDir, granularity, dynamic = false)
  }

  // the fact's layout: date partitions sorted on (date, natural key); a
  // month-grain fact's directory column is sink-derived, never the caller's
  private val FactDateCol = "date_key"
  private val FactSortCols = Seq("l_orderkey", "l_linenumber")
  private val MonthKey = "month_key"

  /** The grain a standing fact was written at: `"month"` when it carries
    * the month directory column, else (or with no standing fact) `"day"`. */
  private[graft] def factGranularity(standing: Option[StructType]): String =
    if (standing.exists(_.fieldNames.contains(MonthKey))) "month" else "day"

  /** The fact sinks' schema gate against the standing fact, if any, whose
    * sink-derived month directory column is left out of the anchor. */
  private[graft] def requireFactEvolvable(standing: Option[StructType],
                                          fact: StructType, where: String): Unit =
    standing.foreach { s0 =>
      SchemaEvolution.requireEvolvable(
        StructType(s0.fields.filterNot(_.name == MonthKey)), fact, where)
    }

  /** [[writeFact]]'s layout without its gate. `dynamic` replaces only the
    * partition directories `fact` has rows for and keeps the rest (the
    * partition-grain re-sync); otherwise the whole directory is replaced. */
  private[graft] def writeFactUnchecked(fact: DataFrame, outDir: String,
                                        granularity: String,
                                        dynamic: Boolean): Unit = {
    val (keyed, dirCol) = granularity match {
      case "day" => (fact, FactDateCol)
      case "month" =>
        (fact.withColumn(MonthKey, trunc(col(FactDateCol), "month")), MonthKey)
      case other =>
        throw new IllegalArgumentException(
          s"writeFact granularity must be 'day' or 'month', got '$other'")
    }
    keyed
      .repartition(col(dirCol))
      .sortWithinPartitions(
        (Seq(dirCol, FactDateCol).distinct ++ FactSortCols).map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .partitionBy(dirCol)
      .parquet(outDir)
  }

  /** Dimension sink: one file. A dimension broadcasts at read time, and a
    * single footer beats a thousand tiny files. */
  def writeDim(dim: DataFrame, outDir: String): Unit = {
    // same evolution gate as writeFact: widened dim rewrites fine,
    // narrowed/retyped refuses before the standing copy is destroyed
    standingSchema(dim.sparkSession, outDir).foreach { s0 =>
      SchemaEvolution.requireEvolvable(s0, dim.schema, s"writeDim($outDir)")
    }
    dim.coalesce(1).write.mode("overwrite").parquet(outDir)
  }

  /** Range-sorted sink: `repartitionByRange` + in-partition sort on `key`
    * yields files whose key ranges are DISJOINT and ordered — so any
    * range/point predicate on the key prunes whole files (and row groups
    * within them) via parquet min/max stats, without directory-per-value
    * partitioning (which explodes at high cardinality). This is the layout
    * for range-scanned high-cardinality keys — event time, order ids —
    * where `partitionBy` would create millions of directories and a hash
    * layout scatters every range across all files. The range exchange
    * samples the key distribution, so files are balanced under skew.
    * SourcesSpec asserts the disjoint-ordered property file by file. */
  def writeRangeSorted(df: DataFrame, outDir: String, key: String,
                       numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode("overwrite").parquet(outDir)

  /** Morton (Z-order) interleave of two non-negative integer keys — the
    * space-filling-curve value multi-dimensional clustering sorts by. Bits
    * spread via the standard mask-and-shift sequence (each input's low 31
    * bits interleaved into one 64-bit value), pure codegen'd bitwise ops.
    * 31 bits per key, not 32: the second key's bit 31 would land in the
    * long's SIGN bit and a signed sort would order those rows before
    * zero — silently destroying curve locality for upper-half keys.
    * CONTRACT: keys must lie in [0, 2³¹); wider values alias (k and
    * k−2³¹ interleave identically) — scale or rank them into range first,
    * exactly as [[writeZOrdered]] does with its 20-bit min-max rescale.
    * Keys of wildly different ranges should be scaled for a second
    * reason: curve locality only helps when both dimensions use
    * comparable bit widths. */
  def zValue(a: Column, b: Column): Column = {
    def spread(c: Column): Column = {
      var x = c.cast("long").bitwiseAND(lit(0x7FFFFFFFL))
      x = x.bitwiseOR(shiftleft(x, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      x = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      x = x.bitwiseOR(shiftleft(x, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      x = x.bitwiseOR(shiftleft(x, 2)).bitwiseAND(lit(0x3333333333333333L))
      x.bitwiseOR(shiftleft(x, 1)).bitwiseAND(lit(0x5555555555555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-ordered sink: range-partition + sort on the Morton interleave of TWO
    * keys, so file (and row-group) min/max spans stay tight on BOTH columns
    * — a point/range predicate on EITHER key prunes most files, where a
    * plain sort on one key leaves the other scattered across every file.
    * This is the layout for tables queried along two independent
    * dimensions (user×time, part×supplier) — the same clustering Delta's
    * OPTIMIZE ZORDER and Iceberg's sort orders apply, done here with a
    * plain codegen'd expression and the stock range exchange (which
    * samples the z-values, so files stay balanced under skew). The curve
    * keys never persist — only the layout changes.
    *
    * Both keys are min-max scaled to a common 20-bit width before
    * interleaving (Delta does the same via range ids): raw interleave of
    * keys with unequal ranges degenerates to a single-key sort — the wider
    * key owns every high bit and the narrow key stops clustering. Bounds
    * come from one tiny min/max aggregate when not supplied; at 100 TB
    * pass the known `bounds` (partition metadata, stats) and skip that
    * scan. */
  def writeZOrdered(df: DataFrame, outDir: String, c1: String, c2: String,
                    numFiles: Int,
                    bounds: Option[(Long, Long, Long, Long)] = None): Unit = {
    val computed = bounds.orElse {
      val r = df.agg(
        min(col(c1)).cast("long"), max(col(c1)).cast("long"),
        min(col(c2)).cast("long"), max(col(c2)).cast("long")).head()
      // empty input or an all-null key: no curve to build — plain write
      if (r.anyNull) None
      else Some((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    if (computed.isEmpty) {
      // no curve to build, but the caller's file-count request still holds
      df.coalesce(numFiles).write.mode("overwrite").parquet(outDir)
      return
    }
    val (lo1, hi1, lo2, hi2) = computed.get
    val bits = 20
    def scaled(c: Column, lo: Long, hi: Long): Column = {
      val factor = ((1L << bits) - 1).toDouble / math.max(1L, hi - lo)
      ((c.cast("long") - lit(lo)).cast("double") * lit(factor)).cast("long")
    }
    val z = zValue(scaled(col(c1), lo1, hi1), scaled(col(c2), lo2, hi2))
    df.repartitionByRange(numFiles, z)
      .sortWithinPartitions(z)
      .write.mode("overwrite").parquet(outDir)
  }
}
