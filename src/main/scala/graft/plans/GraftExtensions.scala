package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.ContextBridge
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Optimizer rule: rewrite the declarative dot product
  * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x)`
  * over `array<bigint>` into the fused codegen'd [[DotProductQ]] loop.
  * Sound with no containsNull guard: DotProductQ returns NULL on a NULL
  * element or a length mismatch, exactly as the declarative fold does.
  *
  * Only the quantized long form is matched. The float form never survives
  * analysis in this shape — the analyzer wraps the float elements in Casts
  * (to double) inside both lambdas, so a pattern on raw lambda variables
  * cannot fire, and matching the Cast form would silently change rounding
  * (per-product double widening vs a float accumulate). Float callers use
  * `graft_dot_f` explicitly.
  *
  * Query code keeps the portable `functions._` form (runs on any Spark);
  * sessions built with [[GraftExtensions]] execute the tight loop instead of
  * materializing the product array and dispatching two lambdas per element.
  */
object RewriteDotProduct extends Rule[LogicalPlan] {

  private def isVars(l: Expression, r: Expression, vars: Seq[NamedExpression]): Boolean =
    vars.length == 2 &&
      ((l.semanticEquals(vars.head) && r.semanticEquals(vars(1))) ||
        (l.semanticEquals(vars(1)) && r.semanticEquals(vars.head)))

  private def isIdentity(f: LambdaFunction): Boolean =
    f.arguments.length == 1 && f.function.semanticEquals(f.arguments.head)

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case ArrayAggregate(
          ZipWith(a, b, LambdaFunction(Multiply(ml, mr, _), mulVars, _)),
          zero @ Literal(_, LongType),
          LambdaFunction(Add(al, ar, _), addVars, _),
          finish: LambdaFunction)
        if isVars(ml, mr, mulVars) && isVars(al, ar, addVars) && isIdentity(finish) &&
          zero.value == 0L && isArrayOf(a, b, LongType) =>
      DotProductQ(a, b)
  }

  private def isArrayOf(a: Expression, b: Expression,
                        t: org.apache.spark.sql.types.DataType): Boolean =
    (a.dataType, b.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _)) => l == t && r == t
      case _ => false
    }
}

/** Session extensions: SQL-callable native functions, the rewrite rule,
  * the asof-join strategy, session broadcast reuse, and the Spark settings
  * of [[GraftExtensions.SparkSettings]] (generated classes compiled once per
  * JVM).
  *
  * Two install routes:
  *  - `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`, as
  *    [[graft.Session]] and perfbench do. Spark applies the extension after
  *    it has started the SparkContext and before it builds the session's SQL
  *    conf, so `apply` adds the settings to the live context's conf, except
  *    those the caller configured.
  *  - `SparkSession.builder().withExtensions(new GraftExtensions)`. The
  *    builder runs `apply` at the start of `getOrCreate`, before it starts
  *    a context, so the session gets the functions and rules but not the
  *    settings (unless a context was already running); set them with
  *    `.config` on that route. `apply` neither creates a context nor
  *    throws there.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ContextBridge.setIfMissing(GraftExtensions.SparkSettings)
    ext.injectFunction((
      FunctionIdentifier("graft_dot_q"),
      new ExpressionInfo(classOf[DotProductQ].getName, "graft_dot_q"),
      (children: Seq[Expression]) => DotProductQ(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_dot_f"),
      new ExpressionInfo(classOf[DotProductF].getName, "graft_dot_f"),
      (children: Seq[Expression]) => DotProductF(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_json_long"),
      new ExpressionInfo(classOf[JsonLongField].getName, "graft_json_long"),
      (children: Seq[Expression]) => JsonLongField(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_json_key_long"),
      new ExpressionInfo(classOf[JsonKeyLong].getName, "graft_json_key_long"),
      (children: Seq[Expression]) => JsonKeyLong(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_html_class_elements"),
      new ExpressionInfo(classOf[HtmlClassElements].getName, "graft_html_class_elements"),
      (children: Seq[Expression]) => HtmlClassElements(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_html_page_scan"),
      new ExpressionInfo(classOf[HtmlPageScan].getName, "graft_html_page_scan"),
      (children: Seq[Expression]) => HtmlPageScan(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_jsonld_nodes"),
      new ExpressionInfo(classOf[JsonLdNodes].getName, "graft_jsonld_nodes"),
      (children: Seq[Expression]) => JsonLdNodes(children.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[WinnowSelect].getName, "graft_winnow"),
      (children: Seq[Expression]) => WinnowSelect(children.head,
        graft.operators.Dedup.Coef.take(graft.operators.Dedup.WordHashWidth),
        graft.operators.Dedup.K2, graft.operators.Dedup.K3,
        graft.operators.Dedup.P, 1048576L)))
    // aggregate builders return the raw AggregateFunction — the analyzer
    // wraps it in an AggregateExpression, as with the built-in aggregates
    ext.injectFunction((
      FunctionIdentifier("graft_mg_topk"),
      new ExpressionInfo(classOf[MisraGriesTopK].getName, "graft_mg_topk"),
      (children: Seq[Expression]) => MisraGriesTopK(children(0), children(1),
        children(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      FunctionIdentifier("graft_top_k"),
      new ExpressionInfo(classOf[TopKStructs].getName, "graft_top_k"),
      (children: Seq[Expression]) => TopKStructs(children(0),
        children(1).eval().asInstanceOf[Number].intValue())))
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    ext.injectQueryStagePrepRule(SessionBroadcastReuseRule)
  }
}

object GraftExtensions {
  /** Spark settings a session gets from its extensions, so that each
    * generated class is compiled once per JVM rather than on every pass:
    *  - `spark.sql.codegen.cache.maxEntries` (static; default 100). Spark
    *    keys `CodeGenerator`'s cache by (context class loader, source), and
    *    in `local[n]` a stage takes one key on the driver (its method-size
    *    check) and one on the task threads. A warm relational pass over
    *    perfbench's 11 queries needs about 300 keys and an ingest pass
    *    about 250, so at 100 entries the LRU evicted every class each pass.
    *  - `spark.sql.artifact.isolation.enabled` (internal; default true).
    *    With it on, every SQL execution tags its tasks with the session's
    *    UUID and the executor builds one class loader per UUID; each
    *    `writeStream.start()` clones the session, so every stream start
    *    recompiled the executor-side classes. The engine adds no session
    *    artifacts (jars, files), so isolation buys it nothing.
    *  - `spark.sql.codegen.useIdInClassName` (internal; default true). The
    *    whole-stage codegen stage id is then part of each generated class's
    *    name, hence of its source and cache key. AQE numbers stages in the
    *    order it plans them, which varies when two branches read one store
    *    at once (`a1_consensus`): the same classes then recompile under
    *    swapped ids. Off, the class is `GeneratedIterator` whatever its
    *    stage (the id stays in the generated code's comment).
    */
  val SparkSettings: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "1000",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false")
}
