package graft.wizard

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.clustering.BisectingKMeans
import org.apache.spark.ml.feature.PCA
import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
import org.apache.spark.mllib.clustering.{KMeansModel, GraftKMeansBridge => KM}
import org.apache.spark.mllib.linalg.{Vector => OldVector, Vectors => OldVectors}
import org.apache.spark.storage.StorageLevel

/** Clustering + dimensionality reduction (reference word_wizard.py:233-296,
  * 513-559, 675-717 — operators B3/B7).
  *
  * k-means with a fixed seed replaces sklearn KMeans: MLlib's row-solver
  * algorithm (k-means|| init, Lloyd iterations), run through MLlib's own
  * kernels but driven here so that every candidate k of the silhouette scan
  * advances in lockstep — one single-stage job per algorithm step serves
  * every k still running. The scan is the reference's `_k_search`
  * (word_wizard.py:675-717) with the interactive elbow input dropped (not
  * reproducible — SURVEY.md §2.10 B3). The reference refits on the same
  * matrix 13 times; here that costs one vector cache owned by the scan,
  * ≤ 29 jobs for all k together and one fused silhouette scoring of all k.
  *
  * PCA stands in for UMAP (documented deviation, SURVEY.md §7.3): UMAP is
  * stochastic and has no Spark-native equivalent; downstream consumers need
  * only the (n, 2) shape and grain.
  */
object Cluster {

  private def toVec = udf((a: Seq[Float]) =>
    Vectors.dense(a.map(_.toDouble).toArray))
  private def toArr = udf((v: MlVector) => v.toArray.map(_.toFloat))

  // MLlib KMeans defaults (ml.clustering.KMeans): k-means|| with 2 steps,
  // ≤ 20 Lloyd iterations, convergence tolerance 1e-4; local k-means++
  // over the weighted candidates runs 30 iterations from seed 0
  private val InitSteps = 2
  private val MaxIterations = 20
  private val Epsilon = 1e-4
  private val LocalIterations = 30

  /** KMeans labels for `vecCol` (array<float>) as `outCol: int`: the
    * lockstep fit ([[fitKMeans]]) with one k.
    */
  def kmeans(df: DataFrame, vecCol: String, outCol: String, k: Int,
             seed: Long = 42L): DataFrame =
    label(df, vecCol, outCol, withPoints(df, vecCol)(fitKMeans(_, Seq(k), seed)).head)

  /** `df` plus `outCol: int`, each row's nearest center of `model` (its
    * `predict`, the labels `ml.clustering.KMeansModel.transform` gives).
    */
  private def label(df: DataFrame, vecCol: String, outCol: String,
                    model: KMeansModel): DataFrame = {
    val predict = udf((a: Seq[Float]) => model.predict(toPoint(a)))
    df.withColumn(outCol, predict(col(vecCol)))
  }

  private def toPoint(a: Seq[Float]): OldVector = OldVectors.dense(a.map(_.toDouble).toArray)

  /** `f` over the unit-weight points of `vecCol`, cached for `f` alone:
    * the row-solver instances of `ml.clustering.KMeans` (same partitions,
    * same row order, same norms), released however `f` ends. The caller's
    * frame is never persisted or unpersisted here (materialization policy:
    * `graft.dedup.Dedup`).
    */
  private[graft] def withPoints[T](df: DataFrame, vecCol: String)(f: RDD[KM.Point] => T): T = {
    val points = df.select(col(vecCol)).rdd
      .map(r => KM.point(toPoint(r.getSeq[Float](0))))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try f(points) finally points.unpersist()
  }

  /** Broadcasts of one fit, destroyed together (a failed fit included). */
  private final class Shared(sc: SparkContext) {
    private val live = ArrayBuffer.empty[Broadcast[_]]
    def apply[T: ClassTag](v: T): Broadcast[T] = { val b = sc.broadcast(v); live += b; b }
    def destroyAll(): Unit = { live.foreach(_.destroy()); live.clear() }
  }

  /** MLlib's k-means (`ml.clustering.KMeans().setK(k).setSeed(seed)` with
    * the row solver) for every k of `ks`, in lockstep: each step below is
    * one single-stage job that serves every k still running, and computes
    * what MLlib computes for that k.
    *
    *  1. First center: MLlib seeds k-means|| with `XORShiftRandom(seed)
    *     .nextInt()`, which does not depend on k, so one `takeSample` gives
    *     every k the same first center.
    *  1. k-means|| steps: one job sums each k's point costs (the running
    *     min of `pointCost` over the centers each step added), one job draws
    *     MLlib's per-partition `XORShiftRandom(seed ^ (step << 16) ^ index)`
    *     once per point and keeps the point for every k whose threshold
    *     `2·cost·k/sumCosts` it beats. Costs are recomputed from the added
    *     centers in each job rather than cached.
    *  1. Candidates: deduplicated per k; a k with more than k distinct
    *     candidates weights them by closest-candidate counts (one job for
    *     all such k) and picks k by MLlib's local k-means++. A k with fewer
    *     keeps them all, so its model has fewer than k centers, as MLlib's.
    *  1. Lloyd: one job per iteration assigns every point for every k not
    *     yet converged (MLlib's `findClosest` and `updateClusterSum`), and
    *     the per-partition (Σ, weight) of each cluster are merged on the
    *     driver in partition order — the merge order of MLlib's local-mode
    *     `reduceByKey`. A k stops when every moved center is within
    *     `Epsilon` or after `MaxIterations`.
    *
    * Costs are summed in partition order where MLlib sums in task
    * completion order; they only set thresholds and `trainingCost`.
    */
  private[graft] def fitKMeans(points: RDD[KM.Point], ks: Seq[Int],
                               seed: Long): Seq[KMeansModel] = {
    val n = ks.length
    val kArr = ks.toArray
    val share = new Shared(points.sparkContext)
    try {
      // ---- k-means|| ------------------------------------------------------
      val initSeed = KM.random(seed).nextInt()
      val sample = points.takeSample(withReplacement = false, 1, initSeed)
      require(sample.nonEmpty, s"No samples available from $points")
      val first = KM.toDense(sample.head)
      // added(s)(i): the centers step s added for ks(i) (step 0: the first)
      val added = ArrayBuffer(Array.fill(n)(Array(first)))
      for (step <- 0 until InitSteps) {
        val bAdded = share(added.toArray)
        val sumCosts = points.mapPartitions { it =>
          val sum = new Array[Double](n)
          it.foreach { p =>
            val c = initCosts(bAdded.value, p)
            for (i <- 0 until n) sum(i) += c(i)
          }
          Iterator.single(sum)
        }.collect().foldLeft(new Array[Double](n)) { (a, b) =>
          for (i <- 0 until n) a(i) += b(i)
          a
        }
        val chosen = points.mapPartitionsWithIndex { (index, it) =>
          val rand = KM.random(initSeed ^ (step << 16) ^ index)
          val picked = Array.fill(n)(ArrayBuffer.empty[KM.Point])
          it.foreach { p =>
            val c = initCosts(bAdded.value, p)
            val r = rand.nextDouble()
            for (i <- 0 until n) if (r < 2.0 * c(i) * kArr(i) / sumCosts(i)) picked(i) += p
          }
          Iterator.single(picked.map(_.toArray))
        }.collect()
        added += Array.tabulate(n)(i => chosen.flatMap(_(i)).map(KM.toDense))
        share.destroyAll()
      }
      val candidates = Array.tabulate(n)(i =>
        added.flatMap(_(i)).map(KM.vector).distinct.map(KM.point).toArray)
      val weighted = (0 until n).filter(i => candidates(i).length > kArr(i)).toArray
      val counts = if (weighted.isEmpty) Array.empty[Array[Long]] else {
        val bCands = share(weighted.map(candidates))
        val perPartition = points.mapPartitions { it =>
          val cands = bCands.value
          val hits = cands.map(c => new Array[Long](c.length))
          it.foreach(p => cands.indices.foreach(w => hits(w)(KM.findClosest(cands(w), p)._1) += 1))
          Iterator.single(hits)
        }.collect()
        share.destroyAll()
        weighted.indices.map(w => perPartition.map(_(w)).transpose.map(_.sum)).toArray
      }
      val centers = Array.tabulate(n) { i =>
        val w = weighted.indexOf(i)
        if (w < 0) candidates(i)
        else KM.kMeansPlusPlus(0, candidates(i), counts(w).map(_.toDouble), kArr(i), LocalIterations)
      }
      // ---- Lloyd ------------------------------------------------------------
      val iterations = new Array[Int](n)
      val costs = new Array[Double](n)
      var running = (0 until n).toArray
      while (running.nonEmpty) {
        val bCenters = share(running.map(centers))
        val bStats = share(running.map { i =>
          if (KM.shouldComputeStatistics(centers(i).length)) Some(KM.computeStatistics(centers(i)))
          else None
        })
        // per partition, per running k: Σ and weight of each cluster, cost
        val parts = points.mapPartitions { it =>
          val cs = bCenters.value
          val stats = bStats.value
          val sums = cs.map(c => Array.fill(c.length)(OldVectors.zeros(KM.vector(c.head).size)))
          val weights = cs.map(c => new Array[Double](c.length))
          val cost = new Array[Double](cs.length)
          it.foreach { p =>
            for (r <- cs.indices) {
              val (best, d) = KM.findClosest(cs(r), stats(r), p)
              cost(r) += d
              KM.updateClusterSum(p, sums(r)(best))
              weights(r)(best) += 1.0
            }
          }
          Iterator.single((sums, weights, cost))
        }.collect()
        share.destroyAll()
        val converged = running.indices.map { r =>
          val i = running(r)
          var done = true
          for (j <- centers(i).indices) {
            val hits = parts.filter(_._2(r)(j) > 0)
            if (hits.nonEmpty) {
              val sum = hits.head._1(r)(j)
              hits.tail.foreach(h => KM.axpy(1.0, h._1(r)(j), sum))
              val updated = KM.centroid(sum, hits.map(_._2(r)(j)).reduce(_ + _))
              if (done && !KM.isCenterConverged(centers(i)(j), updated, Epsilon)) done = false
              centers(i)(j) = updated
            }
          }
          costs(i) = parts.map(_._3(r)).sum
          iterations(i) += 1
          done
        }
        running = running.indices.collect {
          case r if !converged(r) && iterations(running(r)) < MaxIterations => running(r)
        }.toArray
      }
      (0 until n).map(i => new KMeansModel(centers(i).map(KM.vector), "euclidean",
        costs(i), iterations(i)))
    } finally share.destroyAll()
  }

  /** Each k's k-means|| cost of `p` once the steps of `added` have run:
    * MLlib's running min(pointCost(centers the step added), previous cost),
    * from +∞.
    */
  private def initCosts(added: Array[Array[Array[KM.Point]]], p: KM.Point): Array[Double] = {
    val c = Array.fill(added.head.length)(Double.PositiveInfinity)
    for (step <- added; i <- c.indices) c(i) = math.min(KM.pointCost(step(i), p), c(i))
    c
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
    * One lockstep fit ([[fitKMeans]]) runs every candidate k, then
    * [[silhouettes]] scores them all together; both read one vector cache
    * that the scan owns and releases before it returns, however it ends
    * ([[withPoints]]). Partitioning and row order are those of the input,
    * so seeds, centers and labels are MLlib's. A failure is an ordinary
    * exception: no job of the scan starts after the failing one, and the
    * cache and the fit's broadcasts are released on the way out.
    */
  def kmeansSilhouette(df: DataFrame, vecCol: String, outCol: String,
                       kMin: Int = 2, kMax: Int = 15,
                       seed: Long = 42L): (Int, DataFrame) = {
    require(kMax > kMin && kMin >= 2, s"need 2 <= kMin < kMax, got [$kMin,$kMax)")
    val ks = kMin until kMax
    val (models, scores) = withPoints(df, vecCol) { points =>
      val models = fitKMeans(points, ks, seed)
      (models, silhouettes(points.map(KM.vector), models))
    }
    val ((bestK, best), _) = ks.zip(models).zip(scores).maxBy { case ((k, _), s) => (s, -k) }
    (bestK, label(df, vecCol, outCol, best))
  }

  /** Mean silhouette of each model's labeling of `points`,
    * in two fused passes over all models instead of one
    * `ClusteringEvaluator` per model: the same squared-Euclidean silhouette
    * with unit weights. Pass one aggregates Σx, Σ‖x‖² and n per
    * (model, cluster); pass two scores every point against those stats and
    * sums the coefficients per model. Labels come from each model's own
    * `predict`.
    */
  private[graft] def silhouettes(points: RDD[OldVector],
                                 models: Seq[KMeansModel]): Seq[Double] = {
    val ms = models.toArray
    val labeled = points.map { v =>
      (v.toArray, math.pow(Vectors.norm(v.asML, 2.0), 2.0), ms.map(_.predict(v)))
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
