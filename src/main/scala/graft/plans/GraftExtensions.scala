package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{CosineSimilarity, EditDistanceExpr, LcsLengthExpr, NormalizeUnicode, SimHash64Expr, SimHashMd5Expr, WinnowingExpr}

/** Library entry point into Catalyst: registers the native expressions
  * as SQL functions and installs [[RewriteHofCosine]], so (a) pure-SQL
  * users reach the custom codegen'd kernels without touching the Scala
  * API, and (b) code written with the portable Column form
  * ([[graft.ops.Similarity.cosine]]) is transparently upgraded to the
  * one-tight-loop native expression — the interpreted-lambda tax on
  * HOF cosine inside join conditions (60–90 s / 2M pairs, see
  * CosineSimilarity's scaladoc) disappears without a code change.
  *
  * Production sessions hook at build time:
  * {{{
  *   builder.withExtensions(new GraftExtensions)  // on the session builder
  *   // or: spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  * For sessions built elsewhere (the correctness driver's, notebooks),
  * [[GraftExtensions.register]] installs the same pieces at runtime.
  * `register` additionally excludes `InferFiltersFromGenerate` (see the
  * note at [[GraftExtensions.register]]); builder-time users should set
  * `spark.sql.optimizer.excludedRules` to the same value — extensions
  * cannot modify confs.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionDescriptions.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteHofCosine)
  }
}

object GraftExtensions {

  /** Always-cast to array<double>: builders see unresolved children
    * (no dataType yet); a redundant cast is erased by SimplifyCasts. */
  private def asVec(e: Expression): Expression = Cast(e, ArrayType(DoubleType))

  private def info(name: String, clazz: Class[_]): ExpressionInfo =
    new ExpressionInfo(clazz.getName, name)

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** (identifier, info, builder) triples for `injectFunction` /
    * `FunctionRegistry.registerFunction`. */
  val functionDescriptions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine", classOf[CosineSimilarity]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_cosine(vecA, vecB)")
        new CosineSimilarity(asVec(args(0)), asVec(args(1)))
      }),
    (FunctionIdentifier("graft_simhash64"),
      info("graft_simhash64", classOf[SimHash64Expr]),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash64(tokens)")
        SimHash64Expr(args.head)
      }),
    (FunctionIdentifier("graft_simhash_md5"),
      info("graft_simhash_md5", classOf[SimHashMd5Expr]),
      (args: Seq[Expression]) => {
        require(args.length == 1, "graft_simhash_md5(tokens)")
        SimHashMd5Expr(args.head)
      }),
    (FunctionIdentifier("graft_winnowing"),
      info("graft_winnowing", classOf[WinnowingExpr]),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_winnowing(text, k, w)")
        WinnowingExpr(args.head, intLit(args(1), "k"), intLit(args(2), "w"))
      }),
    (FunctionIdentifier("graft_normalize"),
      info("graft_normalize", classOf[NormalizeUnicode]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_normalize(text, 'NFC'|'NFD'|'NFKC'|'NFKD')")
        val form = args(1) match {
          case Literal(v: UTF8String, StringType) => v.toString
          case other => throw new IllegalArgumentException(
            s"normalization form must be a string literal, got $other")
        }
        require(Set("NFC", "NFD", "NFKC", "NFKD").contains(form),
          s"unknown normalization form $form")
        NormalizeUnicode(args.head, form)
      }),
    (FunctionIdentifier("graft_edit_distance"),
      info("graft_edit_distance", classOf[EditDistanceExpr]),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_edit_distance(a, b[, cap])")
        val cap = if (args.length == 3) intLit(args(2), "cap") else -1
        EditDistanceExpr(args(0), args(1), cap)
      }),
    (FunctionIdentifier("graft_lcs_length"),
      info("graft_lcs_length", classOf[LcsLengthExpr]),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_lcs_length(tokensA, tokensB)")
        LcsLengthExpr(args(0), args(1))
      }),
  )

  /** `InferFiltersFromGenerate` synthesizes `size(e) > 0` from every
    * explode/posexplode; PredicatePushdown then substitutes the
    * generator input's FULL defining expression into that filter and
    * pushes it below projects and exchanges. For this library — where
    * exploded arrays are COMPUTED (gram sets, MinHash signatures, IVF
    * probe lists), never stored — that re-evaluates the most expensive
    * expression in the pipeline a second time, often on the map side of
    * a repartition at the scan's (1-split) parallelism: measured 8.5 s
    * of a 10.9 s sketch pass at sf0.1, and a full duplicate corpus-scan
    * cost at 100 TB. The rule only helps when the filter can prune at a
    * SOURCE (stored array columns) — not this engine's shape. */
  private val ExcludedOptimizerRules =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Idempotent runtime installation on an existing session (the
    * correctness driver builds its own session, so oracle queries call
    * this at query time; `registerFunction` overwrites on re-register
    * and the rule is appended once). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionDescriptions.foreach { case (id, fi, builder) =>
      reg.registerFunction(id, fi, builder)
    }
    if (!spark.experimental.extraOptimizations.exists(_ eq RewriteHofCosine))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteHofCosine
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key).filter(_.nonEmpty)
    if (!prev.exists(_.contains(ExcludedOptimizerRules)))
      spark.conf.set(key,
        (prev.toSeq :+ ExcludedOptimizerRules).mkString(","))
  }
}

/** Rewrites the portable HOF cosine —
  * `aggregate(zip_with(a,b,*),0.0,+) / (sqrt(aggregate(transform(a,x→x²),…))
  * · sqrt(aggregate(transform(b,x→x²),…)))` — into the native
  * [[CosineSimilarity]] kernel. Semantics-preserving by the kernel's FP
  * contract (identical sequential fold order, identical null/NaN
  * degenerate behavior — parity-tested in SimilaritySpec), so this is a
  * pure physical upgrade: one fused loop, codegen in projections AND a
  * non-allocating eval inside join conditions, where the HOF form falls
  * to per-pair lambda interpretation.
  *
  * Matches only all-double shapes (float inputs acquire Casts inside the
  * lambdas and fail the pattern), and only when both norm children are
  * semantically the dot's children — arbitrary user HOFs never match.
  */
object RewriteHofCosine extends Rule[LogicalPlan] {

  /** aggregate(xs, 0.0D, (acc, v) → acc + v) with identity finish. */
  private object SumFold {
    def unapply(e: Expression): Option[Expression] = e match {
      case ArrayAggregate(xs, Literal(0.0, DoubleType),
          LambdaFunction(
            Add(_: NamedLambdaVariable, _: NamedLambdaVariable, _), _, _),
          LambdaFunction(fin: NamedLambdaVariable, Seq(arg), _))
          if fin fastEquals arg => Some(xs)
      case _ => None
    }
  }

  /** zip_with(a, b, (p, q) → p * q) folded to its dot product. */
  private object Dot {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case SumFold(ZipWith(a, b, LambdaFunction(
          Multiply(_: NamedLambdaVariable, _: NamedLambdaVariable, _), _, _)))
        => Some((a, b))
      case _ => None
    }
  }

  /** sqrt(aggregate(transform(x, p → p * p), 0.0, +)). */
  private object Norm {
    def unapply(e: Expression): Option[Expression] = e match {
      case Sqrt(SumFold(ArrayTransform(x, LambdaFunction(
          Multiply(p: NamedLambdaVariable, q: NamedLambdaVariable, _), _, _))))
          if p fastEquals q => Some(x)
      case _ => None
    }
  }

  private def isVec(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressionsWithPruning(
      _.containsPattern(org.apache.spark.sql.catalyst.trees
        .TreePattern.HIGH_ORDER_FUNCTION)) {
      case Divide(Dot(a, b), Multiply(Norm(a2), Norm(b2), _), _)
          if a.semanticEquals(a2) && b.semanticEquals(b2) &&
            isVec(a) && isVec(b) =>
        new CosineSimilarity(a, b)
    }
}
