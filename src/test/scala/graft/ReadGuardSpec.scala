package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every engine parquet read goes through `FileFormats.readParquet`, which
  * takes the data schema from one footer on the driver. A bare
  * `spark.read.parquet(..)` (or one with options) elsewhere would bring
  * back Spark's schema-inference job on every open; this scan of the
  * engine's sources keeps it from coming back. Inside `FileFormats` only
  * `readEvolved`'s merge-schema read is a bare read.
  *
  * Every engine table is also a plain parquet path: nothing the engine
  * writes registers in the session catalog, and nothing it reads comes
  * from there, so a second, catalog-bound storage model cannot come back
  * unnoticed either.
  *
  * And every stream starts in `StateSink.run`: a pipeline is a per-batch
  * step passed to it, so a second launcher with its own checkpoint,
  * trigger and defaults cannot come back either.
  *
  * And every SQL table function is one entry of `SqlSurface.tableFns`,
  * registered by the one loop in `GraftExtensions`, so a second
  * registration shape with its own marker plan and rule cannot come back
  * either. */
class ReadGuardSpec extends AnyFunSuite {

  /** `read` then any `.option(..)` calls then `.parquet(` or a parquet
    * `.format(..)`, across line breaks. */
  private val BareRead =
    """\bread\s*(?:\.\s*options?\s*\((?:[^()]|\([^()]*\))*\)\s*)*\.\s*(?:parquet\s*\(|format\s*\(\s*"parquet"\s*\))""".r

  /** A bucketed or catalog-registered write, a read of a catalog table
    * (`spark.table(..)`, `spark.read.table(..)`) or a `DROP TABLE`, across
    * line breaks. */
  private val CatalogUse =
    """\b(?:saveAsTable|bucketBy)\s*\(|\.\s*table\s*\(|\bDROP\s+TABLE\b""".r

  /** A stream start: a `.writeStream` or `.foreachBatch` member access,
    * across line breaks. The words in prose ("a foreachBatch retry") are
    * not a member access. */
  private val StreamStart = """\.\s*(?:writeStream|foreachBatch)\b""".r

  /** A table-function registration: an `injectTableFunction` member
    * access, across line breaks. */
  private val TableFnInjection = """\.\s*injectTableFunction\b""".r

  private def sources(root: Path): Seq[Path] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  private def hits(pattern: scala.util.matching.Regex)(file: Path): Seq[String] = {
    val text = new String(Files.readAllBytes(file), "UTF-8")
    pattern.findAllMatchIn(text).map { m =>
      val line = text.substring(0, m.start).count(_ == '\n') + 1
      s"$file:$line: ${m.matched.replaceAll("\\s+", " ")}"
    }.toList
  }

  test("no parquet read outside FileFormats infers its schema with a Spark job") {
    val root = Paths.get("src/main/scala")
    val all = sources(root)
    assert(all.size > 50, s"found only ${all.size} sources under $root")
    val (own, rest) = all.partition(_.endsWith(Paths.get("graft/sources/FileFormats.scala")))
    assert(own.size === 1)
    val outside = rest.flatMap(hits(BareRead))
    assert(outside.isEmpty,
      "route these through FileFormats.readParquet:\n" + outside.mkString("\n"))
    val inside = hits(BareRead)(own.head)
    assert(inside.size === 1 && inside.head.contains("mergeSchema"),
      "FileFormats' only bare read is readEvolved's:\n" + inside.mkString("\n"))
  }

  test("the scan sees every form of a bare read") {
    val forms = Seq(
      "spark.read.parquet(dir)",
      "s.read.parquet(s\"$dir/v=1\")",
      "spark.read.option(\"basePath\", dir).parquet(leaf)",
      "spark.read\n  .option(\"a\", f(x))\n  .option(\"b\", \"c\")\n  .parquet(dir)",
      "spark.read.format(\"parquet\").load(dir)")
    forms.foreach(f => assert(BareRead.findFirstIn(f).nonEmpty, f))
    val allowed = Seq(
      "spark.read.schema(s).parquet(dir)",
      "spark.readStream.schema(s).parquet(dir)",
      "df.write.mode(\"overwrite\").parquet(dir)",
      "spark.read.format(\"jdbc\").load()",
      "FileFormats.readParquet(spark, dir)")
    allowed.foreach(f => assert(BareRead.findFirstIn(f).isEmpty, f))
  }

  test("no engine table is bucketed or goes through the session catalog") {
    val root = Paths.get("src/main/scala")
    val all = sources(root)
    assert(all.size > 50, s"found only ${all.size} sources under $root")
    val found = all.flatMap(hits(CatalogUse))
    assert(found.isEmpty,
      "write and read these as plain parquet paths:\n" + found.mkString("\n"))
  }

  test("the catalog scan sees every form of a catalog table") {
    val forms = Seq(
      "df.write.bucketBy(4, \"k\").sortBy(\"k\").saveAsTable(name)",
      "df.write.option(\"path\", p).format(\"parquet\").saveAsTable(name)",
      "writer\n  .bucketBy (n, keys.head, keys.tail: _*)",
      "spark.table(s\"${t}_v$v\")",
      "s.read.table(\"t\")",
      "spark\n  .table(prev)",
      "spark.sql(s\"DROP TABLE IF EXISTS ${t}_v$v\")")
    forms.foreach(f => assert(CatalogUse.findFirstIn(f).nonEmpty, f))
    val allowed = Seq(
      "df.write.mode(\"overwrite\").partitionBy(\"date_key\").parquet(dir)",
      "FileFormats.readParquet(spark, s\"$dir/v=1\")",
      "graft.sources.Jdbc.readTable(spark, conn, \"user_state\")",
      "stream.writeStream.format(\"memory\").queryName(name)",
      "col(bucketCol)")
    allowed.foreach(f => assert(CatalogUse.findFirstIn(f).isEmpty, f))
  }

  test("no stream starts anywhere but StateSink.run") {
    val root = Paths.get("src/main/scala")
    val all = sources(root)
    assert(all.size > 50, s"found only ${all.size} sources under $root")
    val (own, rest) = all.partition(_.endsWith(Paths.get("graft/streaming/StateSink.scala")))
    assert(own.size === 1)
    val outside = rest.flatMap(hits(StreamStart))
    assert(outside.isEmpty,
      "run these through StateSink.run with a per-batch step:\n" + outside.mkString("\n"))
    val inside = hits(StreamStart)(own.head)
    assert(inside.size === 2,
      "StateSink.run's writeStream and foreachBatch are the only starts:\n" +
        inside.mkString("\n"))
  }

  test("the stream scan sees every form of a stream start") {
    val forms = Seq(
      "events.writeStream",
      "windowedCounts(events, every, delay).writeStream\n  .format(\"memory\")",
      "readEventStream(spark, dir, schema)\n      .writeStream\n      .option(\"checkpointLocation\", ckpt)",
      "      .foreachBatch(scd1MergeBatch(spark, stateDir, keys) _)",
      "  .foreachBatch { (batch: DataFrame, batchId: Long) =>",
      "q.writeStream . foreachBatch(step)")
    forms.foreach(f => assert(StreamStart.findFirstIn(f).nonEmpty, f))
    val allowed = Seq(
      "spark.readStream.schema(s).parquet(dir)",
      "// a foreachBatch retry after the append landed",
      "  * maintains an additive parquet state table (every foreachBatch sink)",
      "df.write.mode(\"append\").parquet(dir)",
      "StateSink.run(stream, ckpt)(EventsCdc.scd1MergeBatch(spark, dir, keys))",
      "val writeStreamed = 1")
    allowed.foreach(f => assert(StreamStart.findFirstIn(f).isEmpty, f))
  }

  test("no table function registers anywhere but the one loop in GraftExtensions") {
    val root = Paths.get("src/main/scala")
    val all = sources(root)
    assert(all.size > 50, s"found only ${all.size} sources under $root")
    val (own, rest) = all.partition(_.endsWith(Paths.get("graft/GraftExtensions.scala")))
    assert(own.size === 1)
    val outside = rest.flatMap(hits(TableFnInjection))
    assert(outside.isEmpty,
      "declare these as entries of SqlSurface.tableFns:\n" + outside.mkString("\n"))
    val inside = hits(TableFnInjection)(own.head)
    assert(inside.size === 1,
      "GraftExtensions registers the table in one loop:\n" + inside.mkString("\n"))
  }

  test("the table-function scan sees every form of a registration") {
    val forms = Seq(
      "ext.injectTableFunction((",
      "    ext\n      .injectTableFunction((FunctionIdentifier(name), info, builder))",
      "extensions . injectTableFunction(fn)")
    forms.foreach(f => assert(TableFnInjection.findFirstIn(f).nonEmpty, f))
    val allowed = Seq(
      "ext.injectFunction((",
      "ext.injectResolutionRule(s => new GraftTableFnResolution(s))",
      "  * Spark's `injectTableFunction` hands a builder only the argument",
      "val injectTableFunctions = 1")
    allowed.foreach(f => assert(TableFnInjection.findFirstIn(f).isEmpty, f))
  }
}
