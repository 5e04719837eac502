package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: wall-clock the sub-stages of the benchmark hotspots so
  * optimization work targets the actual cost, not a guess.
  * `runMain graft.Profile [sfDir]`.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.dedup.Dedup

    def t(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s  ($n rows)")
    }

    val docs = Tables(spark, sfDir, "documents")
    docs.count() // warm cache

    t("minhash signatures (q24 core)") {
      Dedup.minHashSignatures(docs, "doc_id", "text", 3, 8).count()
    }
    val sig = Dedup.minHashWide(docs, "doc_id", "text", 3, 8).cache()
    t("sig cache materialize") { sig.count() }
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bandRows = 2).cache()
    t("lsh candidate pairs + estimate") { pairs.count() }
    t("verify pairs") { Dedup.verifyPairs(pairs, docs, "doc_id", "text").count() }
    t("q25 full") { graft.queries.DedupQueries.q25NeardupLsh(spark, sfDir).count() }
    spark.catalog.clearCache()
    t("q39 full") { graft.queries.DedupQueries.q39NeardupGroups(spark, sfDir).count() }
    spark.catalog.clearCache()
    t("q39 full again") { graft.queries.DedupQueries.q39NeardupGroups(spark, sfDir).count() }
    spark.catalog.clearCache()
    t("q39 cc only") {
      val docs = Tables.balanced(spark, sfDir, "documents")
      val sig = Dedup.minHashWide(docs, "doc_id", "text", 3, 8)
      val pairs = Dedup.lshCandidatePairs(sig, "doc_id", bandRows = 2)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("doc_a"), col("doc_b")).cache()
      val np = pairs.count()
      println(s"[profile]   pairs=$np")
      val t0 = System.nanoTime()
      val n = Dedup.connectedComponents(pairs).count()
      println(f"[profile]   cc-only ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      n
    }
    spark.catalog.clearCache()
    t("q29 full") { graft.queries.TextStatsQueries.q29LangId(spark, sfDir).count() }
    spark.catalog.clearCache()
    // q29 split (r22): the profile learn pass runs (and collects) during
    // query CONSTRUCTION; the classify pass is the final count. Time them
    // separately so optimization targets the right half.
    locally {
      val t0 = System.nanoTime()
      val q29 = graft.queries.TextStatsQueries.q29LangId(spark, sfDir)
      val t1 = System.nanoTime()
      val n = q29.count()
      val t2 = System.nanoTime()
      println(f"[profile] q29 learn+collect (construction)   ${(t1 - t0) / 1e9}%8.2f s")
      println(f"[profile] q29 classify (count)               ${(t2 - t1) / 1e9}%8.2f s  ($n rows)")
    }
    spark.catalog.clearCache()
    // q24 alternative (r22, VERDICT #5): in-row HOF minhash (no explode, no
    // shuffle, interpreted md5 lambdas) vs the shipped explode + map-side
    // partial-min HashAggregate. noop sink so column pruning can't skip the
    // in-row signature (count() would prune it away entirely).
    locally {
      import graft.nlp.text.Text
      def tn(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        println(f"[profile] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      }
      val sh = docs.select(col("doc_id"), Text.tokens(col("text")).as("toks"))
        .select(col("doc_id"), Text.ngrams(col("toks"), 3).as("sh"))
        .filter(size(col("sh")) >= 1)
      val words = (0 until 8).map { i =>
        val j = i / 4
        lower(lpad(hex(array_min(transform(col("sh"), g =>
          conv(substring(md5(concat(lit(s"$j|"), g)), (i % 4) * 8 + 1, 8), 16, 10)
            .cast("long")))), 8, "0"))
      }
      tn("q24 ALT in-row HOF minhash (noop)") {
        sh.select(col("doc_id"), array(words: _*).as("sig"))
      }
      tn("q24 CUR explode+partial-agg (noop)") {
        Dedup.minHashWide(docs, "doc_id", "text", 3, 8)
      }
    }
    spark.catalog.clearCache()
    t("q36 simhash only") { Dedup.simHash(docs, "doc_id", "text").count() }
    t("q36 full") { graft.queries.DedupQueries.q36SimhashNeardup(spark, sfDir).count() }
    spark.catalog.clearCache()
    t("q20 full") { graft.queries.NlpQueries.q20MedoidsPairwise(spark, sfDir).count() }

    // ---- codegen'd vec exprs vs interpreted HOF forms (same math) ------
    {
      import graft.functions.{VectorOps, VecExprs}
      val emb = Tables(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding")).cache()
      emb.count()
      val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
        .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
      def run(label: String, dot: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column): Unit =
        t(label) {
          pairs.select(sum(dot(col("va"), col("vb"))).as("s")).head; pairs.count()
        }
      run("vec_dot codegen (n^2 pairs)", VecExprs.dot)
      run("vec_dot HOF interpreted     ", VectorOps.dotHof)
      emb.unpersist()
    }
    spark.catalog.clearCache()

    // ---- wizard chain e2e: every stage over the real documents table ---
    t("wizard full chain (sf docs)") {
      import graft.wizard.WordWizard
      val docs = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("text").as("paragraph"),
          substring(col("text"), 1, 40).as("title"))
      val w = WordWizard(docs, interest = "paragraph")
        .createSentenceEmbeddings()
        .clusterEmbeddings(k = Some(5))
        .entityRecognition()
        .summarizeMedoids()
        .findSentiment()
        .topicModelling()
        .reduceDimensionality()
      val n = w.df.count()
      w.df.unpersist()
      n
    }
    spark.catalog.clearCache()

    // ---- plan audit: greppable assertions on the physical plans --------
    def audit(name: String, df: org.apache.spark.sql.DataFrame,
              wants: Seq[String]): Unit = {
      df.collect() // finalize THIS df's AQE plan (count() would execute a
                   // derived plan and leave this one isFinalPlan=false)
      val plan = df.queryExecution.executedPlan.toString
      wants.foreach { w =>
        val ok = if (plan.contains(w)) "OK " else "MISS"
        println(s"[audit] $ok $name: $w")
      }
    }
    // "*(n)" is the WholeStageCodegen stage marker in plan toString
    audit("q3 pushdown", graft.queries.Relational.q3FilterRevenue(spark, sfDir),
      Seq("PushedFilters: [IsNotNull(l_shipdate)", "*(1)"))
    audit("q2 broadcast dims", graft.queries.Relational.q2JoinRevenue(spark, sfDir),
      Seq("BroadcastHashJoin", "*(1)"))
    audit("q19 broadcast centroids", graft.queries.NlpQueries.q19Medoids(spark, sfDir),
      Seq("BroadcastHashJoin", "ObjectHashAggregate"))
    audit("q12 column pruning", graft.queries.Relational.q12Md5(spark, sfDir),
      Seq("ReadSchema: struct<doc_id:bigint,text:string>"))
    // q38's bucket self-join references the docs⋈emb subtree on both sides;
    // the static plan prints it twice — check whether AQE actually reuses
    // the materialized shuffle stage at runtime (ReusedExchange) or pays
    // the join twice (r21 "not yet optimized" #1).
    audit("q38 exchange reuse", graft.queries.DedupQueries.q38EmbedDedup(spark, sfDir),
      Seq("ReusedExchange"))
    spark.stop()
  }
}
