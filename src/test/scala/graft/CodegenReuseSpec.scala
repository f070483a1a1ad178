package graft

import org.apache.spark.graft.SparkInternals

/** Re-running a pipeline in a long-lived session must reuse its generated
  * classes. Spark's default codegen cache (100 entries) is smaller than
  * one round of these 14 cheap pipelines (~170 classes), so its LRU
  * evicted every class before the next round and each re-run compiled
  * them all again; `Engine` sizes the cache to hold the working set.
  * A lower cap brings the thrash back and fails this spec.
  */
class CodegenReuseSpec extends SparkTestBase {

  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  private val pipelines = Seq(
    "q3_shipping_priority", "q6_forecast_revenue", "q14_promo_revenue",
    "q19_disc_revenue",
    "q_window_range_frame", "q_window_rank", "q_window_running",
    "q_set_except_all", "q_set_intersect", "q_set_union_all",
    "q_sql_exists", "q_sql_lateral_explode", "q_sql_pivot",
    "q_sql_scalar_subquery")

  private def round(): Unit = pipelines.foreach { name =>
    ops.CacheScope.scoped {
      Graft.plan(spark, name, dir).write.format("noop").mode("overwrite")
        .save()
    }
  }

  test("a second round of the short pipelines compiles no class") {
    round()
    val before = SparkInternals.codegenCompiles
    round()
    val compiled = SparkInternals.codegenCompiles - before
    assert(compiled == 0,
      s"second round compiled $compiled generated classes — the codegen " +
        "cache no longer holds one round's working set")
  }
}
