package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.NativeExpressions.{DotProduct, MinHashSignature, NfcNormalize, SimHashBits, SrpBandValues}

/** SparkSessionExtensions hook registering the engine's planner strategy
  * for the native as-of join ([[graft.plans.AsOfJoinStrategy]]), its
  * native expressions as SQL functions, and the top whole-table operators
  * as table-valued functions, so `spark.sql` users (and external SQL
  * tooling — the reference's own audience drove it over HTTP) reach the
  * library without touching the Scala API.
  *
  * Scalar / aggregate functions:
  *   - `graft_simhash_bits(array<bigint>, bits)`
  *   - `graft_minhash_signature(array<bigint>, perms, seed)`
  *   - `graft_srp_band_values(array<double>, array<array<double>>, rows)`
  *   - `graft_dot(array<double>, array<double>)`
  *   - `graft_nfc_normalize(string)`
  *   - `graft_sample_bucket(id)` — the portable md5 sampling bucket in
  *     [0, 100) every deterministic sample/split decision keys on
  *   - `graft_mg_sketch(item, k)` / `graft_mg_merge(sketch, k)` — the
  *     Misra-Gries heavy-hitter sketch pair (build shards, merge subsets)
  *
  * Table-valued functions (FROM-clause; every argument a string literal,
  * table names resolved against the session catalog — temp views
  * included): each `graft_*` table function is one entry of
  * [[graft.plans.SqlSurface.tableFns]], which carries its arguments,
  * its doc line and its body.
  *
  * Wire up via `GraftSession.builder` (already applied) or
  * `--conf spark.sql.extensions=graft.GraftExtensions` on a stock session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def constInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a constant")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => throw new IllegalArgumentException(s"$what must be int, got $other")
    }
  }

  private def constLong(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a constant")
    e.eval() match {
      case i: Int => i.toLong
      case l: Long => l
      case other => throw new IllegalArgumentException(s"$what must be long, got $other")
    }
  }

  /** Materialize a foldable array<array<numeric>> literal into the plane
    * matrix SrpBandValues bakes into its generated code (SQL numeric
    * literals arrive as Decimal, not Double). */
  private def constPlanes(e: Expression, what: String): Array[Array[Double]] = {
    require(e.foldable, s"$what must be a constant")
    val elemType = e.dataType match {
      case org.apache.spark.sql.types.ArrayType(
             org.apache.spark.sql.types.ArrayType(et, _), _) => et
      case other => throw new IllegalArgumentException(
        s"$what must be array<array<numeric>>, got $other")
    }
    val outer = e.eval().asInstanceOf[ArrayData]
    (0 until outer.numElements()).map { i =>
      val inner = outer.getArray(i)
      (0 until inner.numElements()).map { j =>
        inner.get(j, elemType) match {
          case d: Double => d
          case f: Float => f.toDouble
          case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"$what elements must be numeric, got $other")
        }
      }.toArray
    }.toArray
  }

  private def constStr(e: Expression, what: String): String = {
    require(e.foldable, s"$what must be a constant string")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case s: String => s
      case other => throw new IllegalArgumentException(
        s"$what must be a string, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // whole-operator extension: the native as-of join (custom LogicalPlan
    // -> Strategy -> SparkPlan; see graft.plans.AsOfJoin)
    ext.injectPlannerStrategy(_ => new graft.plans.AsOfJoinStrategy)
    // the SQL-surface resolution rule: rewrites the table-function markers
    // below into real operator plans once their relations resolve
    ext.injectResolutionRule(s => new graft.plans.GraftTableFnResolution(s))

    // ---- table-valued functions: whole-table operators from plain SQL ----
    graft.plans.SqlSurface.tableFns.foreach { fn =>
      ext.injectTableFunction((
        FunctionIdentifier(fn.name),
        new ExpressionInfo(classOf[graft.plans.GraftTableFnPlan].getName, fn.name),
        (args: Seq[Expression]) => {
          require(args.length == fn.args.length, fn.usage)
          val strs = args.zip(fn.args).map { case (a, n) => constStr(a, n) }
          graft.plans.GraftTableFnPlan(
            strs.take(fn.tables).map(t =>
              org.apache.spark.sql.catalyst.analysis.UnresolvedRelation(
                t.split('.').toIndexedSeq)),
            fn.name, strs.drop(fn.tables))
        }))
    }

    // ---- scalar + aggregate functions ----
    // the portable sampling bucket every deterministic sampling/split
    // decision keys on (md5-based — reproducible in ANY engine)
    ext.injectFunction((
      FunctionIdentifier("graft_sample_bucket"),
      new ExpressionInfo(graft.ops.Sampling.getClass.getName, "graft_sample_bucket"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_sample_bucket(id)")
        // the EXACT catalyst tree graft.ops.Sampling.bucket composes via
        // the Column DSL (pmod(conv(substring(md5(...))))) — built
        // directly here because an injected builder must return a plain
        // Expression, not a Column-node wrapper (those never resolve when
        // spliced into a tree mid-analysis); ExtensionsSpec pins SQL ≡
        // Scala equality so the two constructions cannot drift
        import org.apache.spark.sql.catalyst.expressions.{Cast, Conv, Literal, Md5, Pmod, Substring}
        import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType}
        val bin = Cast(Cast(args(0), StringType), BinaryType)
        val num = Conv(Substring(Md5(bin), Literal(1), Literal(15)),
          Literal(16), Literal(10))
        Cast(Pmod(Cast(num, LongType), Literal(100L)), IntegerType)
      }))
    // the Misra-Gries sketch pair: build per-shard summaries, merge any
    // subset — the heavy-hitter maintenance path from SQL
    ext.injectFunction((
      FunctionIdentifier("graft_mg_sketch"),
      new ExpressionInfo(classOf[graft.functions.MGSketchAgg].getName, "graft_mg_sketch"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_mg_sketch(item, k)")
        graft.functions.MGSketchAgg(args(0), constInt(args(1), "k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_mg_merge"),
      new ExpressionInfo(classOf[graft.functions.MGMergeAgg].getName, "graft_mg_merge"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_mg_merge(sketch, k)")
        graft.functions.MGMergeAgg(args(0), constInt(args(1), "k"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash_bits"),
      new ExpressionInfo(classOf[SimHashBits].getName, "graft_simhash_bits"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_simhash_bits(hashes, bits)")
        SimHashBits(args(0), constInt(args(1), "bits"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash_signature"),
      new ExpressionInfo(classOf[MinHashSignature].getName, "graft_minhash_signature"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_minhash_signature(hashes, perms, seed)")
        MinHashSignature(args(0), constInt(args(1), "perms"), constLong(args(2), "seed"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_srp_band_values"),
      new ExpressionInfo(classOf[SrpBandValues].getName, "graft_srp_band_values"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_srp_band_values(emb, planes, rows)")
        SrpBandValues(args(0), constPlanes(args(1), "planes"), constInt(args(2), "rows"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(a, b)")
        DotProduct(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc_normalize"),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_nfc_normalize(s)")
        NfcNormalize(args(0))
      }))
  }
}
