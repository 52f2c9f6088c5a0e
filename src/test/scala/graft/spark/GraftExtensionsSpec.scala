package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The cluster-deployment registration path: spark.sql.extensions =
  * graft.GraftExtensions must inject the SQL functions at session build.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions-injected functions resolve in a fresh session") {
    // a builder only applies extensions when it CREATES a session, so drop
    // the active/default session (keeping the shared SparkContext), build
    // one with the extension class, then restore the shared session
    val shared = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // spark.sql.extensions is a static conf applied at context-config
      // time; with a pre-existing SparkContext (shared test JVM) the
      // documented equivalent is builder.withExtensions — same class, same
      // injection path as `--conf spark.sql.extensions=graft.GraftExtensions`
      val withExt = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions().apply(_))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import withExt.implicits._
      Seq((Array(7, 7, 8), 1)).toDF("tokens", "x").createOrReplaceTempView("ext_seqs")
      val r = withExt.sql(
        "SELECT explode(topk_tokens(tokens, 1, 256, 3)) AS e FROM ext_seqs")
        .selectExpr("e.item", "e.count").collect()
      assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq == Seq(("7", 2L)))

      val r2 = withExt.sql(
        "SELECT explode(topk_items(cast(x as string), 1L, 1, 256, 3)) AS e FROM ext_seqs")
        .selectExpr("e.item").head().getString(0)
      assert(r2 == "1")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("an extensions-built session plans the batch global top-K node") {
    // plain SQL, with no TopK call or SqlFunctions.register to register the
    // strategy on the session: only the injected strategy can plan the exec
    val shared = SparkTestSession.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val withExt = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.GraftExtensions().apply(_))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      import withExt.implicits._
      assert(withExt.experimental.extraStrategies.isEmpty)
      Seq(Array(7, 7, 8), Array(8, 7, 9)).toDF("tokens").createOrReplaceTempView("ext_global")
      val top = withExt.sql("SELECT inline(topk_tokens(tokens, 2, 256, 3)) FROM ext_global")
      assert(top.collect().map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("7", 3L), ("8", 2L)))
      assert(top.queryExecution.executedPlan.collectFirst { case e: graft.plans.GlobalTopKExec => e }.nonEmpty)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("invalid configs fail fast with clear messages") {
    val e = intercept[IllegalArgumentException] {
      graft.core.SketchConfig.withDefaults(0)
    }
    assert(e.getMessage.contains("k must be positive"))
    val e2 = intercept[IllegalArgumentException] {
      graft.core.SketchConfig(k = 5, width = 16, depth = 2, decay = 1.5f)
    }
    assert(e2.getMessage.contains("decay"))
  }
}
