package graft

import org.apache.hadoop.fs.Path

/** The plan properties README.md and PLANS.md claim, checked on the
  * finalized (post-AQE) physical plan of each query at sf0.001.
  */
class PlanSpec extends SparkSpec {
  // the fixture scale factors: siblings of the one SparkEntry.entry reads
  private lazy val sfRoot =
    new Path(SparkEntry.entry(spark).inputFiles.head).getParent.getParent.toString

  private val claims = Seq(
    "q3_filter_revenue" -> Seq("PushedFilters: [IsNotNull(l_shipdate)"),
    "q12_md5" -> Seq("ReadSchema: struct<doc_id:bigint,text:string>"),
    "q2_join_revenue" -> Seq("BroadcastHashJoin"),
    "q19_medoids" -> Seq("BroadcastHashJoin", "ObjectHashAggregate"))

  test("pushdown, pruning and broadcast claims hold on the executed plans") {
    for ((name, wants) <- claims) {
      val df = SparkEntry.queries(name)(spark, s"$sfRoot/sf0.001")
      df.collect() // finalize this frame's AQE plan
      val plan = df.queryExecution.executedPlan.toString
      spark.catalog.clearCache()
      wants.foreach(w => assert(plan.contains(w), s"$name lacks $w:\n${plan.take(3000)}"))
    }
  }
}
