package graft

import java.nio.file.Files
import graft.clean.Cleaner

/** The plan properties README.md and PLANS.md claim, checked on the
  * finalized (post-AQE) physical plan of each query at sf0.001, and the
  * ETL clean stage's expression count, checked on its optimized plan.
  */
class PlanSpec extends SparkSpec {
  private val claims = Seq(
    "q3_filter_revenue" -> Seq("PushedFilters: [IsNotNull(l_shipdate)"),
    "q12_md5" -> Seq("ReadSchema: struct<doc_id:bigint,text:string>"),
    "q2_join_revenue" -> Seq("BroadcastHashJoin"),
    "q19_medoids" -> Seq("BroadcastHashJoin", "ObjectHashAggregate"))

  test("pushdown, pruning and broadcast claims hold on the executed plans") {
    for ((name, wants) <- claims) {
      val df = SparkEntry.queries(name)(spark, fixtureDir("sf0.001"))
      df.collect() // finalize this frame's AQE plan
      val plan = df.queryExecution.executedPlan.toString
      spark.catalog.clearCache()
      wants.foreach(w => assert(plan.contains(w), s"$name lacks $w:\n${plan.take(3000)}"))
    }
  }

  test("cleanArticles normalizes each column at most twice and runs each rule once") {
    import spark.implicits._
    // a parquet input, as the raw zone is: a local relation would be folded
    // away by the optimizer before the plan could be read
    val dir = Files.createTempDirectory("graft-plan-clean").toString
    Seq((0L, "Google", "https://news.example.com/a", "source-1", "A perfectly fine headline",
        "d" * 120, "n3k title", "b" * 450, "bs title", "c" * 420, "p" * 180))
      .toDF("article_index", "engine", "se_link", "se_source", "se_title", "se_description",
        "n3k_title", "n3k_body", "bs_title", "bs_body", "paragraph")
      .write.parquet(s"$dir/raw")
    val plan = Cleaner.cleanArticles(spark.read.parquet(s"$dir/raw"))
      .queryExecution.optimizedPlan.toString
    def times(s: String) = plan.sliding(s.length).count(_ == s)
    // four columns, two regexp_replace per normalize
    assert(times("regexp_replace(") > 0 && times("regexp_replace(") <= 16, plan)
    // P7 and P9 over title, description, paragraph; P10 over all four
    assert(times("advertisement") <= 3, plan)
    assert(times("https?://") <= 3, plan)
    assert(times("^\\s*$") <= 4, plan)
    assert(times("RLIKE") > 0 && times("RLIKE") <= 4, plan)
  }
}
