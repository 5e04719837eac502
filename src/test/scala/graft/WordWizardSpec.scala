package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.nlp.kernels.LeadKSummarizer
import graft.wizard.WordWizard

class WordWizardSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = WordWizardSpec.corpus(spark)

  test("full chain produces the reference's suffix-column schema") {
    val w = WordWizard(corpus, "paragraph")
      .createSentenceEmbeddings()
      .clusterEmbeddings(k = Some(2))
      .entityRecognition(minLen = 4)
      .summarizeMedoids()
      .findSentiment()
      .topicModelling(nWords = 5)
      .reduceDimensionality()
    val cols = w.df.columns.toSet
    val emb = "paragraph_sentence_embeddings"
    assert(cols.contains("sentences"))
    assert(cols.contains(emb))
    assert(cols.contains(s"${emb}_clusters"))
    assert(cols.contains(s"${emb}_clusters_medoids"))
    assert(cols.contains(s"${emb}_clusters_medoids_summaries"))
    assert(cols.contains("paragraph_clusters_NER"))
    assert(cols.contains("paragraph_sentiment"))
    assert(cols.contains("topics"))
    assert(cols.contains("paragraph_reduced_dimensions_word_embeddings"))

    val out = w.df.cache()
    assert(out.count() == 24)
    // 2 clusters x 2 medoids
    assert(out.filter(col(s"${emb}_clusters_medoids")).count() == 4)
    // summaries exactly on medoid rows
    assert(out.filter(col(s"${emb}_clusters_medoids_summaries").isNotNull)
      .count() == 4)
    // clusters separate the two topics
    val purity = out.groupBy(col(s"${emb}_clusters"))
      .agg(sum(when(col("paragraph").contains("spark"), 1).otherwise(0)).as("sp"),
           count(lit(1)).as("n"))
      .collect.map(r => math.max(r.getLong(1), r.getLong(2) - r.getLong(1)).toDouble / r.getLong(2))
    assert(purity.forall(_ == 1.0))
    // reduced dims are 2-d
    assert(out.select(size(col("paragraph_reduced_dimensions_word_embeddings")))
      .head.getInt(0) == 2)
    // topics constant within cluster, 5 terms
    assert(out.select(size(col("topics"))).head.getInt(0) == 5)
    out.unpersist()
  }

  test("the default embedder feeds the whole chain; identical texts share vectors") {
    val w = WordWizard(corpus, "paragraph")
      .createSentenceEmbeddings()
      .clusterEmbeddings(k = Some(2))
      .topicModelling(nWords = 3)
    val emb = "paragraph_sentence_embeddings"
    val out = w.df.cache()
    assert(out.count() == 24)
    // every row embedded, at the chain's 64 dims
    assert(out.filter(col(emb).isNull).count() == 0)
    assert(out.select(size(col(emb))).head.getInt(0) == 64)
    val dw = WordWizard(corpus union corpus, "paragraph").createWordEmbeddings()
    assert(dw.df.select(col("paragraph"), col("paragraph_word_embeddings"))
      .distinct().count() == 24)
    spark.catalog.clearCache()
  }

  test("body mode dedups to article grain") {
    val df = Seq(
      (0L, "body one text", "para a"),
      (0L, "body one text", "para b"),
      (1L, "body two text", "para c")
    ).toDF("article_index", "body", "paragraph")
    val w = WordWizard(df, "body")
    assert(w.df.count() == 2)
    assert(!w.df.columns.contains("paragraph"))
  }

  test("prerequisite checks raise without embeddings/clusters") {
    val w = WordWizard(corpus, "paragraph")
    assertThrows[IllegalArgumentException](w.clusterEmbeddings(k = Some(2)))
    assertThrows[IllegalArgumentException](w.topicModelling())
  }

  test("silhouette scan picks a k and labels rows") {
    val w = WordWizard(corpus, "paragraph")
      .createSentenceEmbeddings()
      .clusterEmbeddings(k = None, kMin = 2, kMax = 5)
    val cl = "paragraph_sentence_embeddings_clusters"
    val ks = w.df.select(col(cl)).distinct().count()
    assert(ks >= 2 && ks <= 4)
  }

  private val emb = "paragraph_sentence_embeddings"

  test("attach stages are pruned: PCA fits on the cached clustered frame alone") {
    val w2 = WordWizard(corpus, "paragraph").createSentenceEmbeddings()
      .clusterEmbeddings(k = Some(2))
    val w6 = w2.entityRecognition(minLen = 4).summarizeMedoids().findSentiment()
      .topicModelling(nWords = 5)
    val joins = w6.df.select(col(emb)).queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.isEmpty, joins.mkString("\n"))
    w2.df.count() // the clustered frame is materialized
    assert(jobsDuring(w6.reduceDimensionality()) <= 6)
    spark.catalog.clearCache()
  }

  test("summarizeMedoids: a summary on medoid rows, null elsewhere, as the join gave") {
    val w = WordWizard(corpus, "paragraph").createSentenceEmbeddings()
      .clusterEmbeddings(k = Some(2))
    val medoid = s"${emb}_clusters_medoids"
    val out = s"${medoid}_summaries"
    val byJoin = w.df.join(w.df.filter(col(medoid)).select(col(WordWizard.RowId),
        LeadKSummarizer.summarize(col("paragraph"), 2).as(out)), Seq(WordWizard.RowId), "left")
      .select(WordWizard.RowId, out)
    val got = w.summarizeMedoids().df.select(WordWizard.RowId, out)
    assert(got.collect.toSet == byJoin.collect.toSet)
    assert(got.filter(col(out).isNotNull).count() == 4)
    spark.catalog.clearCache()
  }

  test("a default chain keeps exactly its two documented caches until released") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    // a detached copy: the `keySet` view would keep the RDDs it saw alive
    val before = sc.getPersistentRDDs.keysIterator.toSet
    val w1 = WordWizard(corpus, "paragraph").createSentenceEmbeddings()
    val w2 = w1.clusterEmbeddings()
    val w = w2.entityRecognition().summarizeMedoids().findSentiment()
      .topicModelling().reduceDimensionality()
    w.df.write.format("noop").mode("overwrite").save()
    val left = sc.getPersistentRDDs -- before
    assert(left.size == 2, s"persisted: ${left.values.mkString(", ")}")
    assert(Seq(w1.df, w2.df).forall(_.storageLevel == StorageLevel.MEMORY_AND_DISK))
    spark.catalog.clearCache()
    assert((sc.getPersistentRDDs -- before).isEmpty)
  }
}

object WordWizardSpec {
  /** Two separable "topics" so KMeans(k=2) is stable. */
  def corpus(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val a = (0 until 12).map(i =>
      (s"spark shuffle partition executor task stage job " * 3) + s"run$i")
    val b = (0 until 12).map(i =>
      (s"recipe butter flour sugar oven bake cake " * 3) + s"dish$i")
    (a ++ b).toDF("paragraph")
  }
}
