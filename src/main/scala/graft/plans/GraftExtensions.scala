package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Session extension wiring: `spark.sql.extensions=graft.plans.GraftExtensions`
  * (or `SparkSession.builder.withExtensions(new GraftExtensions)`) — installs
  * the UCT join-order rule, the TopKPerKey planner strategy, the
  * micro-batch scan strategy that keeps a batch's input rows out of plan
  * closures and task binaries (`LeanMicroBatchScanStrategy`), and the SQL
  * form of every graft codegen expression.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def wrongArgs(name: String, expected: Int, actual: Int): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      Map("functionName" -> s"`$name`", "expectedNum" -> expected.toString,
        "actualNum" -> actual.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  private def intArg(name: String, e: Expression): Int = e match {
    case Literal(v: Number, _) => v.intValue()
    case f if f.foldable => f.eval() match {
      case v: Number => v.intValue()
      case _ => throw new org.apache.spark.sql.AnalysisException(
        "NON_FOLDABLE_ARGUMENT",
        Map("funcName" -> s"`$name`", "paramName" -> "`n`", "paramType" -> "\"INT\""))
    }
    case _ => throw new org.apache.spark.sql.AnalysisException(
      "NON_FOLDABLE_ARGUMENT",
      Map("funcName" -> s"`$name`", "paramName" -> "`n`", "paramType" -> "\"INT\""))
  }

  private def register(ext: SparkSessionExtensions, name: String, arity: Int)(
      mk: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, name),
      (children: Seq[Expression]) => {
        if (children.size != arity) wrongArgs(name, arity, children.size)
        mk(children)
      }))

  override def apply(ext: SparkSessionExtensions): Unit = {
    // WCOJ routing runs in the operator-optimization batches; the UCT
    // reorder runs once after them (pre-CBO), over each join tree's final
    // filtered leaves and with any cyclic core already rewritten
    ext.injectOptimizerRule(spark => new WcojJoinRule(spark))
    ext.injectPreCBORule(spark => new UctJoinReorderRule(spark))
    ext.injectRuntimeOptimizerRule(spark => new RuntimeOrderSwitchRule(spark))
    ext.injectPlannerStrategy(_ => TopKPerKeyStrategy)
    ext.injectPlannerStrategy(_ => LeanMicroBatchScanStrategy)

    register(ext, "graft_dot", 2)(c => graft.functions.DotProduct(c(0), c(1)))
    register(ext, "graft_simhash64", 1)(c => graft.functions.SimHash64(c(0)))
    register(ext, "graft_sorted_intersect_count", 2)(c =>
      graft.functions.SortedIntersectCount(c(0), c(1)))
    register(ext, "graft_ngram_hashes", 2)(c =>
      graft.functions.NgramHashes(c(0), intArg("graft_ngram_hashes", c(1))))
    register(ext, "graft_minhash_bands", 3)(c =>
      graft.functions.MinHashBands(c(0),
        intArg("graft_minhash_bands", c(1)), intArg("graft_minhash_bands", c(2))))
    register(ext, "graft_hyperplane_buckets", 3)(c =>
      graft.functions.HyperplaneBuckets(c(0),
        intArg("graft_hyperplane_buckets", c(1)),
        intArg("graft_hyperplane_buckets", c(2)), dim = 64, seed = 42L))
  }
}
