package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's recommended configuration.
  *
  * Local testing runs `local[32]`; on a real cluster only the master/memory
  * knobs change — the SQL conf below is the 100 TB posture: AQE re-plans
  * shuffles at runtime (partition coalescing + skew-join splitting), and
  * shuffle partitions are sized explicitly instead of the 200 default.
  *
  * An in-process session (`local`, `local[N]`, `local[*]`, `local[N,F]`)
  * lists partition directories on the driver: it sets
  * `spark.sql.sources.parallelPartitionDiscovery.threshold` to
  * `Int.MaxValue`, so no read of a partitioned directory launches Spark's
  * listing job (one task per directory above 32 paths). In-process, that
  * job's tasks run on this JVM's own threads, list the same directories
  * the driver would, and add scheduling and serialization on top: on the
  * 2,405 partitions of an sf0.1 fact, the schema of Spark's whole read
  * took 7.7–10.8 s wall and 25.6–31.2 CPU s with the listing job, 0.37–0.63 s
  * (both) listed on the driver, and a one-month slice aggregate 7.5–9.7 s
  * against 0.53–0.85 s (4-core shared host, local disk). Driver-side
  * listing builds each file's status from its block locations, not from
  * `getPermission`, so it avoids the per-file process fork of the local
  * filesystem that `FileFormats.footerRowCount` steers around. Cluster
  * masters (`local-cluster[..]` included, whose executors are separate
  * JVMs) keep Spark's default of 32: against a remote store a sequential
  * driver listing can be slower than the distributed one.
  *
  * Two things are left as they are on purpose:
  *  - `FileFormats.standingSchema` keeps its one-leaf read. Cluster
  *    masters still pay the listing job on a whole read, and even on the
  *    driver the leaf read is cheaper. On the same fact, re-measured
  *    in-process (4-core shared host, load 3–4, 5 alternating reps): the
  *    leaf read took 0.08–0.12 s and ran 0 Spark jobs; a whole
  *    `FileFormats.readParquet` took 0.70–0.80 s and ran 0 jobs; Spark's own
  *    whole read took 0.73–0.83 s and ran 1 job, its schema-inference job.
  *    Its pinned mixed-schema verdict stays too.
  *  - No file-status cache is shared across reads. Spark's
  *    `FileStatusCache` gives each new `InMemoryFileIndex` its own client,
  *    so every `spark.read` lists again, and a graft-side cache would have
  *    to be invalidated by every writer of the directory, writers outside
  *    graft included. A listing on the driver is cheap already: the whole
  *    2,405-partition read above is under 0.85 s, and none of the
  *    engine's reads runs the schema job on top of it.
  */
object GraftSession {
  /** `local`, `local[N]`, `local[*]`, `local[N,F]`, `local[*,F]`: the
    * masters whose tasks run on the driver JVM's own threads. */
  private val InProcess = """local(\[([0-9]+|\*)(\s*,\s*[0-9]+)?\])?""".r

  /** Whether a session on `master` runs its tasks in the driver JVM. */
  private[graft] def inProcess(master: String): Boolean = InProcess.matches(master)

  def builder(appName: String = "graft",
              master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // keep plan strings untruncated so pushdown/broadcast assertions (and
      // humans reading .explain) see every scan filter and read-schema field
      .config("spark.sql.debug.maxToStringFields", "2000")
      // scan-node metadata (PushedFilters/ReadSchema) defaults to 100 chars —
      // too short to see every pushed predicate
      .config("spark.sql.maxMetadataStringLength", "10000")
      // events.parquet carries TIMESTAMP(NANOS); read as epoch-nanos long
      // (graft.sources.Tables.events converts to microsecond timestamps)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (inProcess(master))
      b.config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
    else b
  }

  def get(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
