package graft

/** Dev tool: finalized (post-AQE) physical plans.
  * `runMain graft.PlanReport [sfDir] [outFile] [q...]`. With no query
  * names it writes PLANS.md: the headline queries' plans with notes, the
  * artifact behind the scale claims in README.md. With names it dumps
  * those queries' plans instead, so plan regressions (lost pushdown,
  * surprise shuffles, missing broadcasts, codegen fallbacks) are visible.
  */
object PlanReport {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val only = args.drop(2).toSeq
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")

    val picks: Seq[(String, String)] = Seq(
      "q3_filter_revenue" -> ("predicate pushdown + column pruning reach " +
        "the parquet scan (PushedFilters/ReadSchema); one codegen stage"),
      "q2_join_revenue" -> ("dimension joins broadcast; the only exchange " +
        "is the keyed aggregation"),
      "q19_medoids" -> ("centroids via the typed vector-average Aggregator " +
        "(ObjectHashAggregate, cluster-grain buffers) broadcast back; the " +
        "corpus shuffles once for the rank window"),
      "q39_neardup_groups" -> ("LSH band self-join with in-row Jaccard " +
        "estimate; connected components solve in a single task for " +
        "bounded pair graphs"),
      "q44_pack_sequences" -> ("distributed prefix sum (range partition + " +
        "offset pass) instead of a single-partition cumulative window"))

    val sections = if (only.isEmpty) picks else only.map(_ -> "")
    val sb = new StringBuilder
    sb ++= "# PLANS — finalized physical plans of headline queries\n\n"
    val invoked = if (only.isEmpty) sfDir else (Seq(sfDir, outFile) ++ only).mkString(" ")
    sb ++= s"Generated by `runMain graft.PlanReport $invoked` (post-AQE, after\n"
    sb ++= "execution, so joins/codegen stages are the ones that actually ran).\n"
    sections.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE
      sb ++= s"\n## $name\n\n$note\n\n```\n"
      sb ++= df.queryExecution.executedPlan.toString.take(6000)
      sb ++= "\n```\n"
      spark.catalog.clearCache()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"[planreport] wrote $outFile")
    spark.stop()
  }
}
