package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extensions registering graft's native expressions with the SQL
  * function registry, so plans can use them by name (`expr("...")` /
  * `spark.sql`) and they participate in whole-stage codegen like
  * built-ins. `GraftSession.builder` activates them; any other session
  * sets `spark.sql.extensions` to `graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_similarity"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "cosine_similarity(arrayA, arrayB)")
        CosineSimilarity(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "jaro_winkler(stringA, stringB)")
        JaroWinkler(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) => {
        require(children.length == 2, "dot_product(arrayA, arrayB)")
        DotProduct(children.head, children(1))
      }))
    ext.injectFunction((
      new FunctionIdentifier("rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      GraftFunctions.rollingHashBuilder))
    ext.injectOptimizerRule(_ => SelfCosineRule)
    ext.injectPlannerStrategy(_ => graft.plans.NativeAsOfJoin.AsOfJoinStrategy)
  }
}
