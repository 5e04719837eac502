package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.evaluation.ClusteringEvaluator
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.mllib.clustering.{KMeansModel => OldKMeansModel}
import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.wizard.{Cluster, Topics, Sentiment, Ner, Medoids, WordWizard}
import graft.nlp.text.Text
import graft.queries.NlpQueries

class WizardSpec extends SparkSpec {
  import spark.implicits._

  test("cTfIdf matches hand-computed scores on a tiny corpus") {
    // cluster A: "x x y" ; cluster B: "y z". m = 2 docs total.
    val df = Seq(("A", "x x y"), ("B", "y z")).toDF("cl", "text")
    val got = Topics.cTfIdf(df, "cl", Text.tokens($"text"))
      .select($"cl", $"term", $"score")
      .collect.map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    // t(A,x)=2, clusterTotal(A)=3, termTotal(x)=2 -> (2/3)*ln(2/2)=0
    assert(math.abs(got(("A", "x"))) < 1e-12)
    // t(A,y)=1, total 3, termTotal(y)=2 -> (1/3)*ln(1) = 0
    assert(math.abs(got(("A", "y"))) < 1e-12)
    // t(B,z)=1, clusterTotal(B)=2, termTotal(z)=1 -> (1/2)*ln(2)
    assert(math.abs(got(("B", "z")) - 0.5 * math.log(2)) < 1e-12)
  }

  test("topTerms returns at most n per cluster, ranked desc with term tiebreak") {
    val df = Seq(("A", "a a a b b c"), ("B", "d d e")).toDF("cl", "text")
    val got = Topics.topTerms(df, "cl", Text.tokens($"text"), 2)
    assert(got.groupBy($"cl").count().collect.forall(_.getLong(1) <= 2))
    val ranks = got.filter($"cl" === "A").orderBy($"rk").collect.map(_.getInt(1))
    assert(ranks.toSeq == Seq(1, 2))
  }

  test("sentiment scores each distinct text once and joins back") {
    val df = Seq((0, "fast big win"), (1, "fast big win"), (2, "slow crash day"),
      (3, "mixed bag here")).toDF("id", "text")
    val got = Sentiment.score(df, "text", "s")
      .collect.map(r => r.getAs[Int]("id") -> r.getAs[Int]("s")).toMap
    assert(got(0) == 2 && got(1) == 2) // positive, dup agrees
    assert(got(2) == 0)                // negative
    assert(got(3) == 1)                // neutral
  }

  test("ner weighted zones: title weight dominates body count") {
    val df = Seq(("A", Seq("apple"), Seq("banana", "banana"))).toDF("cl", "title", "body")
    val got = Ner.topEntities(df, "cl",
        Seq((col("title"), 3), (col("body"), 1)), minLen = 4, n = 2)
      .orderBy($"rk").collect.map(r => (r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(("apple", 3L), ("banana", 2L)))
  }

  test("medoids byCentroid picks the central point") {
    // cluster 0: points at 0, 1, 10 on a line -> centroid 11/3≈3.67, closest is 1
    val df = Seq(
      (0L, 0, Array(0.0f)), (1L, 0, Array(1.0f)), (2L, 0, Array(10.0f)),
      (3L, 1, Array(5.0f)), (4L, 1, Array(6.0f))
    ).toDF("id", "cl", "vec")
    val got = Medoids.byCentroid(df, "id", "cl", "vec", 1)
      .collect.map(r => r.getInt(1) -> r.getLong(0)).toMap
    assert(got(0) == 1L)
    assert(Set(3L, 4L).contains(got(1)))
  }

  test("medoids byPairwise picks min mean-pairwise-distance point") {
    // 0,1,2 at x=0,1,4: mean dists 0:(1+4)/2=2.5, 1:(1+3)/2=2, 2:(4+3)/2=3.5
    val df = Seq(
      (0L, 0, Array(0.0f)), (1L, 0, Array(1.0f)), (2L, 0, Array(4.0f))
    ).toDF("id", "cl", "vec")
    val got = Medoids.byPairwise(df, "id", "cl", "vec", 1).head
    assert(got.getLong(0) == 1L)
  }

  test("medoids byPairwise caps oversized clusters by deterministic subsample") {
    val df = (0 until 60).map(i => (i.toLong, 0, Array(i.toFloat)))
      .toDF("id", "cl", "vec")
    // capped run == exact medoids over the md5(id) hash-sample subset
    val capped = Medoids.byPairwise(df, "id", "cl", "vec", 2, maxClusterSize = 10)
    val sample = df.filter(graft.sampling.Sampling.hashFrac($"id") < 10.0 / 60)
    assert(sample.count() < 60) // the cap actually bit
    val expected = Medoids.byPairwise(sample, "id", "cl", "vec", 2)
    assert(capped.collect.toSet == expected.collect.toSet)
    // clusters at/under the cap are bit-identical to the unguarded form
    val atCap = Medoids.byPairwise(df, "id", "cl", "vec", 2, maxClusterSize = 60)
    val full = Medoids.byPairwise(df, "id", "cl", "vec", 2)
    assert(atCap.collect.toSet == full.collect.toSet)
    // a cap that can't yield n medoids is a loud config error
    intercept[IllegalArgumentException] {
      Medoids.byPairwise(df, "id", "cl", "vec", 5, maxClusterSize = 3)
    }
  }

  test("q18: sentiment equals scoring every row on its own") {
    val dir = fixtureDir("sf0.001")
    val got = NlpQueries.q18Sentiment(spark, dir).collect.toSeq
    val want = Tables.balanced(spark, dir, "documents")
      .select($"doc_id", Sentiment.lexiconClass(Text.tokens($"text")).as("sentiment"))
      .orderBy($"doc_id").collect.toSeq
    assert(got.nonEmpty && got == want)
  }

  /** Three gaussian blobs in 4-d as `vec: array<float>`, plus a singleton
    * outlier so one labeling has a one-point cluster.
    */
  private def blobs: DataFrame = {
    val rnd = new scala.util.Random(7)
    val pts = (0 until 240).map { i =>
      val c = i % 3
      (i.toLong, Array.tabulate(4)(d => (if (d == c) 5.0 else 0.0) + rnd.nextGaussian()).map(_.toFloat))
    } :+ ((240L, Array(40f, 40f, 40f, 40f)))
    pts.toDF("id", "vec")
  }

  /** Each fused model's labels, as `ml.clustering.KMeansModel.transform`
    * gives them (the ml model's `predict` is the mllib model's).
    */
  private def fusedLabels(withVec: DataFrame, m: OldKMeansModel): DataFrame = {
    val predict = udf((v: MlVector) => m.predict(OldVectors.fromML(v)))
    withVec.withColumn("p", predict($"v"))
  }

  private def fused(fixture: DataFrame, ks: Seq[Int]): Seq[OldKMeansModel] =
    Cluster.withPoints(fixture, "vec")(Cluster.fitKMeans(_, ks, 42L))

  private def wizardEmb: DataFrame = WordWizard(WordWizardSpec.corpus(spark), "paragraph")
    .createSentenceEmbeddings().df
    .select(col("paragraph_sentence_embeddings").as("vec"))

  private val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))

  test("fused silhouette equals ClusteringEvaluator for every k; the scan picks the same k") {
    for ((fixture, ks) <- Seq((blobs, 2 until 7), (wizardEmb, 2 until 6))) {
      val withVec = fixture.withColumn("v", toVec($"vec"))
      val models = fused(fixture, ks)
      val want = models.map(m => new ClusteringEvaluator()
        .setFeaturesCol("v").setPredictionCol("p").evaluate(fusedLabels(withVec, m)))
      val vectors = fixture.select($"vec").as[Seq[Float]].rdd
        .map(a => OldVectors.dense(a.map(_.toDouble).toArray))
      val got = Cluster.silhouettes(vectors, models)
      got.zip(want).zip(ks).foreach { case ((g, w), k) =>
        assert(math.abs(g - w) <= 1e-9, s"k=$k fused $g evaluator $w")
      }
      val bestK = want.zip(ks).maxBy { case (s, k) => (s, -k) }._2
      assert(Cluster.kmeansSilhouette(fixture, "vec", "cl", ks.head, ks.last + 1)._1 == bestK)
    }
    spark.catalog.clearCache()
  }

  test("the lockstep fit is MLlib's row-solver KMeans for every k: labels, centers, iterations") {
    // 3 distinct points, 20 copies each: k-means|| finds 3 distinct
    // candidates, so MLlib returns 3 centers for k = 4 and 5
    val nearDup = (0 until 60).map(i => Array.tabulate(4)(d => if (d == i % 3) 1f else 0f))
      .toDF("vec")
    for ((fixture, ks) <- Seq((blobs, 2 until 7), (wizardEmb, 2 until 6), (nearDup, 2 until 6))) {
      val withVec = fixture.withColumn("v", toVec($"vec"))
      fused(fixture, ks).zip(ks).foreach { case (got, k) =>
        val km = new KMeans().setK(k).setSeed(42L).setFeaturesCol("v").setPredictionCol("p")
        val want = km.fit(withVec, ParamMap(km.solver -> "row"))
        val labels = (df: DataFrame) => df.select($"p").as[Int].collect().toSeq
        assert(labels(fusedLabels(withVec, got)) == labels(want.transform(withVec)), s"k=$k")
        assert(got.clusterCenters.length == want.clusterCenters.length, s"k=$k")
        got.clusterCenters.zip(want.clusterCenters).foreach { case (g, w) =>
          g.toArray.zip(w.toArray).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-9, s"k=$k") }
        }
        // numIter is private[spark] on the mllib model
        val iterations = got.getClass.getMethod("numIter").invoke(got)
        assert(iterations == want.summary.numIter, s"k=$k")
      }
    }
    assert(fused(nearDup, Seq(5)).head.clusterCenters.length == 3)
    // the fixed-k entry point is the same fit with one k
    val km = new KMeans().setK(3).setSeed(42L).setFeaturesCol("v").setPredictionCol("cl")
    val withVec = blobs.withColumn("v", toVec($"vec"))
    assert(Cluster.kmeans(blobs, "vec", "cl", 3).select($"cl").as[Int].collect().toSeq ==
      km.fit(withVec, ParamMap(km.solver -> "row")).transform(withVec)
        .select($"cl").as[Int].collect().toSeq)
    spark.catalog.clearCache()
  }

  test("a failed candidate fit fails the scan, starts no later fit and leaves no cache") {
    val sc = spark.sparkContext
    // while `FailingInput.on`, a null vector fails the scan at its first
    // job; the input is left uncached, and the scan must leave it so
    val nullAt17 = udf((id: Long, v: Seq[Float]) => if (FailingInput.on && id == 17L) null else v)
    val input = blobs.withColumn("vec", nullAt17($"id", $"vec"))
    // every job start, as (job id, description), and every failed job end
    val started = new ConcurrentLinkedQueue[(Int, String)]
    val failed = new ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e.jobId ->
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobResult != JobSucceeded) failed.add(e.jobId)
    }
    def marker(): Unit = {
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      // detached copies: a `keySet` view would keep the RDDs it saw alive
      def persisted = sc.getPersistentRDDs.keysIterator.toSet
      val before = persisted
      marker()
      intercept[Exception](Cluster.kmeansSilhouette(input, "vec", "cl", kMin = 2, kMax = 5))
      marker()
      jobsDuring(()) // flushes the listener bus: `started` and `failed` are complete
      assert(persisted == before,
        s"left behind: ${(persisted -- before).map(sc.getPersistentRDDs)}")
      assert(input.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      // every job id taken between the markers started (the scheduler
      // rejected none), and the last of them is the one that failed
      val jobs = started.toArray(Array.empty[(Int, String)]).toSeq
      val Seq(from, to) = jobs.collect { case (id, "marker") => id }
      val scan = jobs.map(_._1).filter(id => id > from && id < to).sorted
      assert(scan.nonEmpty && scan == (from + 1 until to))
      assert(failed.toArray.toSeq.map(_.asInstanceOf[Int]).filter(scan.contains) == Seq(scan.last))
    } finally sc.removeSparkListener(listener)
    FailingInput.on = false
    try assert(Cluster.kmeansSilhouette(input, "vec", "cl", kMin = 2, kMax = 4)._2.count() == 241)
    finally FailingInput.on = true
  }
}

/** Switch for the failing-scan spec's input (tasks run in this JVM). */
object FailingInput { @volatile var on = true }
