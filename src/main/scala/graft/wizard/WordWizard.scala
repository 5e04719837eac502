package graft.wizard

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel
import graft.nlp.text.Text
import graft.nlp.kernels.{TfIdfEmbedder, LeadKSummarizer}

/** Fluent NLP chain over an immutable DataFrame — the Spark re-expression
  * of the reference's `WordWizard` (word_wizard.py:115-148 and §3.3 of
  * SURVEY.md). The reference mutates `self.df` and returns `self`; here
  * every stage is `df.transform(...)` producing a new wizard, and the
  * suffix-column naming contract (word_wizard.py:106-113) plus
  * prerequisite-column checks (word_wizard.py:651-673) are preserved.
  *
  * Usage (mirrors README.md:79-106 of the reference):
  * {{{
  * val w = WordWizard(df, interest = "paragraph")
  *   .createSentenceEmbeddings()
  *   .clusterEmbeddings(k = Some(5))
  *   .entityRecognition()
  *   .summarizeMedoids()
  *   .findSentiment()
  *   .topicModelling()
  *   .reduceDimensionality()
  * w.df   // materialized wide frame
  * }}}
  *
  * Scale notes: the chain caches two frames, the embedding frame
  * (reference eagerness is load-bearing — the clustering scan and medoids
  * reuse it, SURVEY.md §4.2.2) and the clustered frame; both live until the
  * caller releases them (`unpersist` / `catalog.clearCache`; materialization
  * policy: `graft.dedup.Dedup`). The k-means
  * fit reads the embedding frame once into a vector cache of its own, fits
  * every candidate k in lockstep over it (one single-stage job per
  * algorithm step, no driver threads) and releases it before the stage
  * returns, so the chain's caches stay those two. Every later
  * stage attaches its column by a projection or by a left join on a key
  * that is unique on the attached side, so Catalyst drops the attach when
  * its column is not read: the PCA fit of [[reduceDimensionality]] reads
  * only the cached clustered frame. Sentiment is distinct→score→join;
  * summaries run only on medoid rows; topics/NER shuffle
  * |vocabulary|-bounded aggregates, never the corpus.
  */
final case class WordWizard(df: DataFrame, interest: String = "paragraph",
                            idCol: String = WordWizard.RowId) {
  import WordWizard._

  // ---- suffix contract (word_wizard.py:106-113) --------------------------
  def embCol: String = interest + EmbSuffix
  def sentEmbCol: String = interest + SentEmbSuffix
  def clusterColOf(emb: String): String = emb + ClusterSuffix
  def sentimentCol: String = interest + SentimentSuffix
  def redDimCol: String = interest + RedDimSuffix + EmbSuffix

  private def requireCol(c: String, hint: String): Unit =
    require(df.columns.contains(c),
      s"column '$c' missing — run $hint first (reference word_wizard.py:651-673)")

  /** First embedding-derived cluster column present (reference resolves by
    * suffix scan — word_wizard.py:664-673).
    */
  private def findCluster: String =
    df.columns.find(_.endsWith(ClusterSuffix)).getOrElse(
      throw new IllegalArgumentException(
        "no *_clusters column — run clusterEmbeddings first"))

  private def findEmbedding: String =
    df.columns.filter(c => c.endsWith(EmbSuffix) || c.endsWith(SentEmbSuffix))
      .headOption.getOrElse(throw new IllegalArgumentException(
        "no *_embeddings column — run create*Embeddings first"))

  // ---- stages ------------------------------------------------------------

  /** 64-dim TF-IDF vectors of the `interest` text in `outCol`, cached. */
  private def embedInto(outCol: String): WordWizard =
    copy(df = new TfIdfEmbedder(64).embed(df, interest, outCol)
      .persist(StorageLevel.MEMORY_AND_DISK))

  /** B1: document vectors from `interest` text → `{interest}_word_embeddings`. */
  def createWordEmbeddings(): WordWizard = embedInto(embCol)

  /** B2: sentence-grain vectors → `{interest}_sentence_embeddings` (the
    * local kernel embeds the same text; the column contract is what
    * downstream consumes).
    */
  def createSentenceEmbeddings(): WordWizard = embedInto(sentEmbCol)

  /** B3: cluster the (sentence-) embedding column. `k = Some(n)` fixes k;
    * None runs the reference's silhouette scan (word_wizard.py:675-717)
    * with floor kMin. `algorithm`: "kmeans" (default) or "hdbscan" — the
    * latter maps to BisectingKMeans, the documented MLlib substitute
    * (SURVEY.md §7.3). Adds `{emb}_clusters: int` and
    * `{emb}_clusters_medoids: boolean` (n closest to centroid).
    */
  def clusterEmbeddings(k: Option[Int] = None, kMin: Int = 5, kMax: Int = 15,
                        nMedoids: Int = 2, seed: Long = 42L,
                        algorithm: String = "kmeans"): WordWizard = {
    require(Seq("kmeans", "hdbscan").contains(algorithm),
      s"algorithm must be kmeans|hdbscan, got $algorithm (word_wizard.py:290)")
    val emb = findEmbedding
    val cl = clusterColOf(emb)
    val labeled = (algorithm, k) match {
      case ("hdbscan", kOpt) =>
        Cluster.bisecting(df, emb, cl, kOpt.getOrElse(kMin), seed)
      case (_, Some(n)) => Cluster.kmeans(df, emb, cl, n, seed)
      case (_, None)    => Cluster.kmeansSilhouette(df, emb, cl, kMin, kMax, seed)._2
    }
    val flagged = Cluster.medoidFlag(labeled, idCol, cl, emb,
      cl + MedoidSuffix, nMedoids)
    copy(df = flagged.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** B4/A10: sentiment class per row, computed once per distinct text →
    * `{interest}_sentiment` (0=neg, 1=neutral, 2=pos).
    */
  def findSentiment(): WordWizard =
    copy(df = Sentiment.score(df, interest, sentimentCol))

  /** B5: extractive summaries for medoid rows only, null elsewhere →
    * `{cluster}_medoids_summaries` (word_wizard.py:298-361: the generative
    * kernel runs on ~2·k rows regardless of corpus size). A projection, not
    * a join: `when` evaluates the summarizer on medoid rows only, and a
    * consumer that does not read the column (the PCA fit) prunes it.
    */
  def summarizeMedoids(leadK: Int = 2): WordWizard = {
    val cl = findCluster
    val medoidCol = cl + MedoidSuffix
    requireCol(medoidCol, "clusterEmbeddings")
    copy(df = df.withColumn(medoidCol + SummarySuffix,
      when(col(medoidCol), LeadKSummarizer.summarize(col(interest), leadK))))
  }

  /** B6/A3/W4: top-n weighted entity candidates per cluster, constant
    * within the cluster → `{interest}_clusters{NER}`. Zones: title ×3,
    * description ×2 (when present), interest ×1 — the reference's weights
    * (word_wizard.py:498-507; its description-column bug fixed, FIXTURES.md
    * quirk 2).
    */
  def entityRecognition(topN: Int = 5, minLen: Int = 5): WordWizard = {
    val cl = findCluster
    val outCol = interest + ClusterSuffix + NerSuffix
    val zones = Seq("title" -> 3, "description" -> 2)
      .filter { case (c, _) => df.columns.contains(c) }
      .map { case (c, w) => (Text.tokens(col(c)), w) } :+
      ((Text.tokens(col(interest)), 1))
    val top = Ner.topEntities(df, cl, zones, minLen, topN)
      .groupBy(col(cl))
      .agg(array_join(sort_array(collect_list(struct(col("rk"), col("term"))))
        .getField("term"), ", ").as(outCol))
    copy(df = df.join(broadcast(top), Seq(cl), "left"))
  }

  /** B8: c-TF-IDF topics per cluster, left-joined to row grain →
    * `topics: array<struct<term,score>>` (word_wizard.py:561-647).
    */
  def topicModelling(nWords: Int = 20): WordWizard = {
    val cl = findCluster
    val top = Topics.topTerms(df, cl,
        Text.removeStopwords(Text.tokens(col(interest))), nWords)
      .groupBy(col(cl))
      .agg(sort_array(collect_list(struct(col("rk"), col("term"), col("score"))))
        .as("topics_raw"))
      .withColumn("topics", transform(col("topics_raw"),
        t => struct(t.getField("term").as("term"), t.getField("score").as("score"))))
      .drop("topics_raw")
    copy(df = df.join(broadcast(top), Seq(cl), "left"))
  }

  /** B7: 2-d reduction of the embedding column →
    * `{interest}_reduced_dimensions_word_embeddings` (PCA for UMAP,
    * documented deviation SURVEY.md §7.3).
    */
  def reduceDimensionality(nComponents: Int = 2): WordWizard =
    copy(df = Cluster.reduce(df, findEmbedding, redDimCol, nComponents))
}

object WordWizard {
  val EmbSuffix = "_word_embeddings"
  val SentEmbSuffix = "_sentence_embeddings"
  val ClusterSuffix = "_clusters"
  val SentimentSuffix = "_sentiment"
  val NerSuffix = "_NER"
  val MedoidSuffix = "_medoids"
  val SummarySuffix = "_summaries"
  val RedDimSuffix = "_reduced_dimensions"
  val RowId = "__row_id"

  /** Build a wizard the way the reference's ctor does (word_wizard.py:
    * 115-148): body mode collapses paragraph grain to article grain
    * (drop + dedup); paragraph mode adds a `sentences` array column
    * (produced-but-unconsumed in the reference — kept for schema parity,
    * SURVEY.md §7.4.6). The row id (P13) is deterministic AND distributed:
    * md5(interest text) + the rank among rows with the same text. A single
    * global `row_number().over(Window.orderBy(text))` would move the whole
    * corpus to one partition (WindowExec warning) — unacceptable at scale;
    * hashing keeps the window partitioned by text, so only exact-duplicate
    * texts co-locate. NOT monotonically_increasing_id (not stable across
    * runs, so not oracle-matchable). Width: 128-bit md5 ⊕ rank, not a bare
    * 64-bit hash — at multi-billion-row scale the 64-bit birthday bound
    * (~4e9) makes collisions plausible, and a collision would silently
    * duplicate rows through the medoid/summary left joins (ADVICE r02).
    */
  def apply(df: DataFrame, interest: String): WordWizard = {
    val base = interest match {
      case "body" =>
        df.drop("article_index", "paragraph").dropDuplicates()
      case _ =>
        df.withColumn("sentences", Text.sentences(col(interest)))
    }
    // Disambiguate exact-duplicate texts by a full-row hash order; ties after
    // that are truly identical rows, so any rank among them is equivalent.
    val allColsHash = xxhash64(base.columns.map(col).toIndexedSeq: _*)
    val dupRank = row_number()
      .over(Window.partitionBy(col(interest)).orderBy(allColsHash))
    val withId = base.withColumn(RowId,
      concat_ws("_", md5(col(interest)), dupRank))
    new WordWizard(withId, interest)
  }
}
