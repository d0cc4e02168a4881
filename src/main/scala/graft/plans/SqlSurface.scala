package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import graft.sources.FileFormats

/** The SQL-surface glue for whole-TABLE operators: Spark's
  * `injectTableFunction` hands a builder only the argument EXPRESSIONS
  * (no session, no resolved children), so a table-valued call like
  * `SELECT * FROM graft_dedup_exact('docs')` cannot build its final plan
  * at parse time. The pattern here is the view-resolution one: the
  * builder emits a MARKER plan over an `UnresolvedRelation`, and an
  * injected resolution rule rewrites the marker into the real operator
  * plan once the child has resolved — for Scala-composed operators by
  * invoking the library function on the child DataFrame and splicing its
  * analyzed plan back in.
  *
  * This is what closes the "SQL reachability" gap: the reference's users
  * drove it over HTTP with SQL — with these rules a `spark.sql`-only
  * client reaches the as-of join, dedup, and sketch operators without
  * touching the Scala API. Each marker is deliberately `resolved = false`
  * so an unknown op or missing rule fails analysis loudly instead of
  * producing an empty-schema plan.
  */
final case class GraftTableOpPlan(child: LogicalPlan, op: String,
                                  params: Seq[String]) extends UnaryNode {
  override def output: Seq[Attribute] = Nil
  override lazy val resolved: Boolean = false
  override protected def withNewChildInternal(c: LogicalPlan): LogicalPlan =
    copy(child = c)
}

/** Rewrites [[GraftTableOpPlan]] markers into the library operator's
  * analyzed plan. The op registry is deliberately small and explicit —
  * each entry is an operator whose SQL reachability the round's contract
  * promises (ExtensionsSpec pins SQL ≡ Scala for every one). */
class GraftTableOpResolution(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.functions.{col, lit}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case GraftTableOpPlan(child, op, params) if child.resolved =>
      val df = org.apache.spark.sql.graft.GraftSqlShim.ofRows(session, child)
      val out = op match {
        case "dedup_exact" =>
          graft.ops.Dedup.exact(df)
        case "minhash_pairs" =>
          graft.ops.Dedup.minhashLsh(df, params(0).toInt, params(1).toDouble)
        case "heavy_hitters" =>
          val k = params(2).toInt
          graft.ops.Sketches.heavyHittersMerged(
            graft.ops.Sketches.heavyHitterSketch(
              df, col(params(0)), lit(0L), col(params(1)), k), k)
        case "gopher_rules" =>
          graft.ops.TextAnalysis.gopherRules(df)
        case "sessionize" =>
          graft.ops.Events.sessionize(df, params(0).toLong)
        case "boilerplate_spans" =>
          graft.ops.Dedup.boilerplateSpans(df, params(0).toInt)
        case "exact_substr_spans" =>
          graft.ops.Dedup.exactSubstrSpans(df, params(0).toInt)
        case "knn_graph" =>
          graft.ops.Similarity.knnGraph(df, params(0).toInt)
        case "block_dedup" =>
          graft.ops.Dedup.blockDedup(df, params(0).toInt)
        case "cdc_chunk_dedup" =>
          graft.ops.Dedup.cdcChunkDedup(df, params(0).toInt, params(1).toInt)
        case "containment_join" =>
          graft.ops.Dedup.containmentJoin(df, params(0).toInt, params(1).toDouble)
        case "label_propagation" =>
          graft.ops.Similarity.labelPropagate(
            df, params(0).toInt, params(1).toInt, params(2).toInt)
        case "random_projection" =>
          graft.ops.Similarity.randomProjection(df, params(0).toInt)
        case "containment_screen" =>
          // the REAL standing-index probe (cost ∝ batch + candidates) —
          // the cheap path the ad-hoc graft_incremental_containment TVF
          // documents against. The probe frames are LAZY bounded persists
          // (r14 ADVICE), so resolving this call (EXPLAIN included) runs
          // no probe jobs — only the parquet sources' fixed schema/
          // listing work (ExtensionsSpec pins the job floor).
          graft.ops.Dedup.incrementalContainmentScreen(session, params(0),
            df, params(1).toInt, params(2).toDouble)
        case "span_screen_indexed" =>
          // the standing fingerprint-index span screen (cost ∝ batch +
          // candidates; r13 ADVICE asked for an index-directory argument
          // so SQL reaches the incremental probe instead of the
          // O(corpus) graft_span_screen recompute). Same analysis-time
          // probe-materialization note as containment_screen.
          graft.ops.Dedup.incrementalSpanScreen(session, params(0),
            FileFormats.readParquet(session, params(1)), df, params(2).toInt)
        case "graph_triangles" =>
          graft.ops.Similarity.graphTriangles(df, params(0).toInt)
        case "dsir_weights" =>
          graft.ops.Dsir.weights(df, col("source") === params(0))
        case "dsir_sample" =>
          graft.ops.Dsir.resample(df, col("source") === params(0))
        case "mixture_schedule" =>
          // the registry derivation verbatim: one tokenize-count scan to
          // per-source token totals, then the |sources|-sized schedule
          graft.ops.Sampling.temperatureMixture(
            df.select(col("source"),
                org.apache.spark.sql.functions.size(
                  graft.ops.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
              .groupBy(col("source"))
              .agg(org.apache.spark.sql.functions.sum(col("n")).as("n_tokens")),
            budgetTokens = params(0).toDouble)
        case "source_overlap" =>
          graft.ops.Dedup.sourceOverlap(df, params(0).toInt)
        case "source_overlap_census" =>
          // the standing-index serve path: census over an already-built
          // (source, h1, h2) shingle-index relation — duplicate rows from
          // blind appends are absorbed by the census aggregate
          graft.ops.Dedup.sourceOverlapCensus(
            df.select(col("source"), col("h1"), col("h2")))
        case "corpus_drift" =>
          // the state-served moving-boundary drift read, the registry
          // derivation verbatim: one scan to ≤ sources×n_batches partials,
          // then the O(state) boundary read
          graft.streaming.StreamingCorpusStats.driftFromState(
            graft.streaming.StreamingCorpusStats.taggedPartials(
              df, params(0).toInt),
            params(1).toLong)
        case other => throw new IllegalArgumentException(
          s"unknown graft table op '$other'")
      }
      out.queryExecution.analyzed

    case GraftBinaryTableOpPlan(left, right, op, params)
        if left.resolved && right.resolved =>
      val ldf = org.apache.spark.sql.graft.GraftSqlShim.ofRows(session, left)
      val rdf = org.apache.spark.sql.graft.GraftSqlShim.ofRows(session, right)
      val out = op match {
        case "span_screen" =>
          // the standing screen's batch identity (Dedup.incrementalSpanScreen
          // scaladoc, DedupSpec-pinned): under monotone ingestion (arrival
          // ids larger than every standing id — the contract this TVF
          // documents), keep-standing ≡ the corpus-wide keep-first pipeline
          // over (standing ∪ arrivals) restricted to arrival doc_ids.
          // COST CAVEAT (r13 ADVICE): this SQL form RECOMPUTES the span
          // pipeline over the ENTIRE standing∪arrivals corpus on every
          // query — O(corpus), not O(batch). It is the ad-hoc/one-shot
          // surface; a standing ingest pipeline should use the Scala path
          // (Dedup.incrementalSpanScreen probing a persisted fingerprint
          // index at cost ∝ batch + candidates, fed by
          // IndexMaintenance.spanScreenBatch) — a SQL TVF cannot carry the
          // index directory handle, so the cheap path is Scala-only.
          val docs = ldf.select(col("doc_id"), col("text"))
            .unionByName(rdf.select(col("doc_id"), col("text")))
          graft.ops.Dedup.exactSubstrSpans(docs, params(0).toInt)
            .join(rdf.select(col("doc_id")), Seq("doc_id"), "left_semi")
        case "incremental_block_dedup" =>
          // the screen's monotone-ingestion batch identity
          // (Dedup.incrementalBlockDedup scaladoc, registry-oracle-pinned):
          // corpus-wide first-instance stats over (standing ∪ arrivals)
          // restricted to arrival doc_ids. Same O(corpus) recompute caveat
          // as graft_span_screen — the standing-index probe path is
          // Scala-only (a TVF cannot carry the index directory handle).
          val docs = ldf.select(col("doc_id"), col("text"))
            .unionByName(rdf.select(col("doc_id"), col("text")))
          graft.ops.Dedup.blockDedup(docs, params(0).toInt)
            .join(rdf.select(col("doc_id")), Seq("doc_id"), "left_semi")
        case "incremental_containment" =>
          // containment of a pair depends on nothing but the pair, so the
          // screen ≡ the corpus-wide containment join restricted to
          // (arrival sub, standing super) — no id-monotonicity needed.
          // Same O(corpus) recompute caveat as above.
          val docs = ldf.select(col("doc_id"), col("text"))
            .unionByName(rdf.select(col("doc_id"), col("text")))
          graft.ops.Dedup
            .containmentJoin(docs, params(0).toInt, params(1).toDouble)
            .join(rdf.select(col("doc_id").as("d_sub")), Seq("d_sub"), "left_semi")
            .join(ldf.select(col("doc_id").as("d_super")), Seq("d_super"), "left_semi")
            .select(col("d_sub"), col("d_super"), col("n_sub"), col("inter"),
              col("containment"))
        case other => throw new IllegalArgumentException(
          s"unknown graft binary table op '$other'")
      }
      out.queryExecution.analyzed
  }
}

/** Two-relation form of [[GraftTableOpPlan]] for table functions over a
  * (standing, arrival) pair — same marker discipline: `resolved = false`
  * until the resolution rule rewrites it. */
final case class GraftBinaryTableOpPlan(left: LogicalPlan, right: LogicalPlan,
                                        op: String, params: Seq[String])
    extends BinaryNode {
  override def output: Seq[Attribute] = Nil
  override lazy val resolved: Boolean = false
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Unresolved form of [[AsOfJoinPlan]] for the `graft_asof_join` table
  * function: carries the column NAMES until both relations resolve. */
final case class AsOfJoinSqlPlan(left: LogicalPlan, right: LogicalPlan,
                                 key: String, timeUs: String,
                                 valueCols: Seq[String]) extends BinaryNode {
  override def output: Seq[Attribute] = Nil
  override lazy val resolved: Boolean = false
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

/** Rewrites [[AsOfJoinSqlPlan]] into the native [[AsOfJoinPlan]] once both
  * sides resolve — the same attribute lookup [[AsOfJoin.apply]] performs
  * on the Scala path, so SQL and Scala build the IDENTICAL plan node. */
object AsOfJoinResolution extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case AsOfJoinSqlPlan(l, r, key, ts, vals) if l.resolved && r.resolved =>
      def attr(p: LogicalPlan, n: String, side: String): Attribute =
        p.output.find(_.name.equalsIgnoreCase(n)).getOrElse(
          throw new IllegalArgumentException(
            s"graft_asof_join: $side side has no column '$n' " +
              s"(has: ${p.output.map(_.name).mkString(", ")})"))
      val rv = vals.map(c => attr(r, c, "right"))
      val mo = rv.map(a =>
        AttributeReference(s"matched_${a.name}", a.dataType, nullable = true)())
      AsOfJoinPlan(l, r, attr(l, key, "left"), attr(l, ts, "left"),
        attr(r, key, "right"), attr(r, ts, "right"), rv, mo)
  }
}
