package graft.wizard

import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.{BisectingKMeans, KMeans, KMeansModel}
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import org.apache.spark.storage.StorageLevel

/** Clustering + dimensionality reduction (reference word_wizard.py:233-296,
  * 513-559, 675-717 — operators B3/B7).
  *
  * MLlib KMeans with a fixed seed replaces sklearn KMeans; the silhouette
  * scan over candidate k is the reference's `_k_search` (word_wizard.py:
  * 675-717) with the interactive elbow input dropped (not reproducible —
  * SURVEY.md §2.10 B3). Every candidate fit reads the one cached input —
  * the reference refits on the same matrix 13 times; here that costs one
  * cache materialization, k fits over executors and one fused silhouette
  * scoring of all k.
  *
  * PCA stands in for UMAP (documented deviation, SURVEY.md §7.3): UMAP is
  * stochastic and has no Spark-native equivalent; downstream consumers need
  * only the (n, 2) shape and grain.
  */
object Cluster {

  private def toVec = udf((a: Seq[Float]) =>
    Vectors.dense(a.map(_.toDouble).toArray))
  private def toArr = udf((v: MlVector) => v.toArray.map(_.toFloat))

  /** One KMeans fit. solver=row: the 4.1 block solver crashes with an
    * ArrayIndexOutOfBounds when kmeans|| init finds fewer distinct centers
    * than k (near-duplicate-heavy corpora hit this); the row solver pads
    * duplicate centers and proceeds.
    */
  private def fitKMeans(withVec: DataFrame, tmp: String, outCol: String,
                        k: Int, seed: Long): KMeansModel = {
    val km = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol(tmp).setPredictionCol(outCol)
    km.fit(withVec, ParamMap(km.solver -> "row"))
  }

  /** KMeans labels for `vecCol` (array<float>) as `outCol: int`. */
  def kmeans(df: DataFrame, vecCol: String, outCol: String, k: Int,
             seed: Long = 42L): DataFrame = {
    val tmp = vecCol + "_mlvec"
    val withVec = df.withColumn(tmp, toVec(col(vecCol)))
    fitKMeans(withVec, tmp, outCol, k, seed).transform(withVec).drop(tmp)
  }

  /** Density-flavored alternative (reference `algorithm="hdbscan"`,
    * word_wizard.py:281-288): HDBSCAN has no MLlib implementation, so the
    * documented substitute is BisectingKMeans — hierarchical, divisive,
    * deterministic under a fixed seed (SURVEY.md §7.3). Same column
    * contract as [[kmeans]]; no noise label (HDBSCAN's −1) is produced.
    */
  def bisecting(df: DataFrame, vecCol: String, outCol: String, k: Int,
                seed: Long = 42L): DataFrame = {
    val tmp = vecCol + "_mlvec"
    val withVec = df.withColumn(tmp, toVec(col(vecCol)))
    val model = new BisectingKMeans().setK(k).setSeed(seed)
      .setFeaturesCol(tmp).setPredictionCol(outCol).fit(withVec)
    model.transform(withVec).drop(tmp)
  }

  /** Silhouette scan: fit k ∈ [kMin, kMax), keep the best-silhouette model
    * (reference scans k∈[2,15) then floors at k≥5; pass the floor as kMin).
    * Returns (bestK, labeled df).
    *
    * Caching: the input is materialized once, before the concurrent fits
    * could race to fill it. A frame the caller cached (the wizard's
    * embedding frame) is used as it is and never unpersisted here; an
    * uncached one is persisted for the scan and unpersisted before return.
    * Each fit gets the UNCACHED vector projection, so MLlib's `KMeans.fit`
    * takes its own persistence path: a deserialized instance RDD, cached
    * for that fit and released when it ends. Partitioning and row order are
    * those of the input, so seeds, centers and labels are too.
    *
    * Candidate fits are independent jobs over the same cached input, so
    * they run from a small driver thread pool (guide-standard overlap): the
    * tail tasks of one k's fit no longer leave the cluster idle while the
    * next k waits. `poolWidth` fits in flight (3 by default) is enough to
    * fill stragglers without thrashing executors; each (k, seed) fit is
    * deterministic, so completion order cannot change which model wins.
    * All candidates are then scored together by [[silhouettes]].
    *
    * Failure path: the first failed fit cancels the scan's job group,
    * future jobs included, so in-flight sibling fits stop and a fit that
    * starts after the failure submits no job. The group is a per-call
    * token, so two scans of one frame never cancel each other. MLlib
    * releases a fit's instance cache only when the fit succeeds, so once
    * every fit has stopped the scan unpersists what its fits left (the RDDs
    * created under its call site) and rethrows the first failure.
    */
  def kmeansSilhouette(df: DataFrame, vecCol: String, outCol: String,
                       kMin: Int = 2, kMax: Int = 15,
                       seed: Long = 42L, poolWidth: Int = 3): (Int, DataFrame) = {
    require(kMax > kMin && kMin >= 2, s"need 2 <= kMin < kMax, got [$kMin,$kMax)")
    require(poolWidth >= 1, s"poolWidth=$poolWidth must be >= 1")
    val sc = df.sparkSession.sparkContext
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist(StorageLevel.MEMORY_AND_DISK)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolWidth)
    try {
      df.count() // materialize ONCE before concurrent fits race to fill it
      val tmp = vecCol + "_mlvec"
      val withVec = df.withColumn(tmp, toVec(col(vecCol)))
      val group = s"kmeansSilhouette[$kMin,$kMax)#${scans.incrementAndGet()}"
      val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val fits = (kMin until kMax).map { k =>
        scala.concurrent.Future {
          if (failure.get != null)
            throw new java.util.concurrent.CancellationException(s"$group: k=$k not started")
          // job group and call site are thread-local: set them in the pool
          // thread so a failure can cancel every sibling fit's jobs, and
          // the RDDs this fit persists can be found afterwards
          sc.setJobGroup(group, s"silhouette fit k=$k", interruptOnCancel = true)
          sc.setCallSite(group)
          try k -> fitKMeans(withVec, tmp, outCol, k, seed)
          catch { case e: Throwable =>
            if (failure.compareAndSet(null, e)) sc.cancelJobGroupAndFutureJobs(group)
            throw e
          }
        }
      }
      val done = fits.map(f => scala.util.Try(
        scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)))
      Option(failure.get).foreach { e =>
        sc.getPersistentRDDs.values.filter(GraftSqlBridge.creationSite(_) == group)
          .foreach(_.unpersist(blocking = false))
        throw e
      }
      val models = done.map(_.get)
      val scores = silhouettes(withVec, tmp, models.map(_._2))
      val ((bestK, bestM), _) = models.zip(scores).maxBy { case ((k, _), s) => (s, -k) }
      (bestK, bestM.transform(withVec).drop(tmp))
    } finally {
      pool.shutdownNow()
      if (owned) df.unpersist()
    }
  }

  private val scans = new java.util.concurrent.atomic.AtomicLong

  /** Mean silhouette of each model's labeling of `featuresCol` (ml Vector),
    * in two fused passes over all models instead of one
    * `ClusteringEvaluator` per model: the same squared-Euclidean silhouette
    * with unit weights. Pass one aggregates Σx, Σ‖x‖² and n per
    * (model, cluster); pass two scores every point against those stats and
    * sums the coefficients per model. Labels come from each model's own
    * `predict`, exactly as `transform` gives them.
    */
  private[graft] def silhouettes(points: DataFrame, featuresCol: String,
                                 models: Seq[KMeansModel]): Seq[Double] = {
    val ms = models.toArray
    val labeled = points.select(col(featuresCol)).rdd.map { r =>
      val v = r.getAs[MlVector](0)
      (v.toArray, math.pow(Vectors.norm(v, 2.0), 2.0), ms.map(_.predict(v)))
    }
    // one slot per (model, cluster), laid out as Σx (dim values), Σ‖x‖², n
    val offs = ms.scanLeft(0)(_ + _.clusterCenters.length) // first slot per model
    val dim = ms.head.clusterCenters.head.size
    val width = dim + 2
    def add(a: Array[Double], b: Array[Double]) = { a.indices.foreach(i => a(i) += b(i)); a }
    val stats = labeled.treeAggregate(new Array[Double](offs.last * width))(
      { case (acc, (x, sq, labels)) =>
        labels.indices.foreach { m =>
          val base = (offs(m) + labels(m)) * width
          x.indices.foreach(j => acc(base + j) += x(j))
          acc(base + dim) += sq
          acc(base + dim + 1) += 1
        }
        acc
      }, add)
    def size(s: Int) = stats(s * width + dim + 1)
    ms.indices.foreach(m => require((offs(m) until offs(m + 1)).count(size(_) > 0) > 1,
      "Number of clusters must be greater than one."))
    val sums = labeled.treeAggregate(new Array[Double](ms.length))(
      { case (acc, (x, sq, labels)) =>
        // mean squared distance from x to the members of slot s
        def avgDist(s: Int) = {
          val dot = x.indices.map(j => x(j) * stats(s * width + j)).sum
          sq + stats(s * width + dim) / size(s) - 2 * dot / size(s)
        }
        labels.indices.foreach { m =>
          val own = offs(m) + labels(m)
          if (size(own) > 1) { // a singleton cluster's point scores 0
            val neighbour = (offs(m) until offs(m + 1))
              .filter(s => s != own && size(s) > 0).map(avgDist).min
            val current = avgDist(own) * size(own) / (size(own) - 1)
            acc(m) += (if (current < neighbour) 1 - current / neighbour
                       else if (current > neighbour) neighbour / current - 1
                       else 0.0)
          }
        }
        acc
      }, add)
    val n = (offs(0) until offs(1)).map(size).sum
    sums.toSeq.map(_ / n)
  }

  /** Add a boolean medoid flag (`outCol`): the n rows closest to their
    * cluster centroid (reference word_wizard.py:719-735, W1).
    */
  def medoidFlag(df: DataFrame, idCol: String, clusterCol: String,
                 vecCol: String, outCol: String, n: Int = 2): DataFrame = {
    val ranked = Medoids.byCentroid(df, idCol, clusterCol, vecCol, n)
      .select(col(idCol), lit(true).as(outCol))
    // ranked is bounded at clusters × n rows at any corpus size — broadcast
    // so flagging never shuffles the corpus by id (r21).
    df.join(broadcast(ranked), Seq(idCol), "left")
      .withColumn(outCol, coalesce(col(outCol), lit(false)))
  }

  /** PCA to `nComponents` dims: `vecCol` → `outCol: array<float>`. */
  def reduce(df: DataFrame, vecCol: String, outCol: String,
             nComponents: Int = 2): DataFrame = {
    val tmp = vecCol + "_mlvec"
    val withVec = df.withColumn(tmp, toVec(col(vecCol)))
    val model = new PCA().setK(nComponents)
      .setInputCol(tmp).setOutputCol(outCol + "_mlvec")
      .fit(withVec)
    model.transform(withVec)
      .withColumn(outCol, toArr(col(outCol + "_mlvec")))
      .drop(tmp, outCol + "_mlvec")
  }
}
