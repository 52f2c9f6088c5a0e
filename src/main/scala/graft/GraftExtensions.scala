package graft

import graft.functions.SqlFunctions
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** SparkSessionExtensions entry point — the idiomatic cluster deployment
  * path: `spark-submit --conf spark.sql.extensions=graft.GraftExtensions`
  * injects the engine's FULL SQL surface into every session (no driver-side
  * registration call needed), and plans every batch global top-K — `TopK`'s
  * and SQL's — as `graft.plans.GlobalTopKExec` (`GlobalTopKStrategy`). Local sessions can equally call
  * `graft.functions.SqlFunctions.register(spark)` — both paths consume
  * `SqlFunctions.builders`, so they cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    SqlFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), SqlFunctions.info(name), builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.GlobalTopKStrategy)
  }
}
