package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.GraftFunctions
import graft.plans.{AsOfJoinStrategy, PushFilterThroughAsOfJoin}

/** Cluster-deploy registration point:
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * injects the custom as-of-join planner strategy, its filter-pushdown
  * optimizer rule, and graft's codegen SQL functions at session BUILD
  * time — the production form of what the library otherwise does
  * per-session at runtime (`AsOfJoin.register` /
  * `GraftFunctions.register`, both idempotent, kept for notebooks and
  * specs). With the config set, every session on the cluster — SQL
  * gateways and thrift servers included, where no Scala code runs to
  * call register() — can plan `asof` joins and call
  * `array_dot`/`p60`/`simhash64`/... from plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name), builder))
    }
  }
}
