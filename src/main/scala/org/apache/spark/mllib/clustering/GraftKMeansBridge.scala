package org.apache.spark.mllib.clustering

import org.apache.spark.mllib.linalg.{BLAS, Vector}
import org.apache.spark.util.random.XORShiftRandom

/** Minimal bridge into MLlib's `private[spark]` k-means kernels, so a fit
  * driven from library code (graft.wizard.Cluster) runs MLlib's own
  * arithmetic: the point-with-norm type, the Euclidean distance measure,
  * local k-means++ and the XORShift generator. Only these forwarders live
  * inside the spark namespace.
  */
object GraftKMeansBridge {
  type Point = VectorWithNorm

  private val euclidean = new EuclideanDistanceMeasure

  def point(v: Vector): Point = new VectorWithNorm(v)
  def vector(p: Point): Vector = p.vector
  def toDense(p: Point): Point = p.toDense
  def pointCost(centers: Array[Point], p: Point): Double = euclidean.pointCost(centers, p)
  def findClosest(centers: Array[Point], p: Point): (Int, Double) =
    euclidean.findClosest(centers, p)
  def findClosest(centers: Array[Point], stats: Option[Array[Double]], p: Point): (Int, Double) =
    euclidean.findClosest(centers, stats, p)
  def shouldComputeStatistics(k: Int): Boolean = DistanceMeasure.shouldComputeStatistics(k)
  def computeStatistics(centers: Array[Point]): Array[Double] = euclidean.computeStatistics(centers)
  def updateClusterSum(p: Point, sum: Vector): Unit = euclidean.updateClusterSum(p, sum)
  def axpy(a: Double, x: Vector, y: Vector): Unit = BLAS.axpy(a, x, y)
  def centroid(sum: Vector, weight: Double): Point = euclidean.centroid(sum, weight)
  def isCenterConverged(old: Point, updated: Point, epsilon: Double): Boolean =
    euclidean.isCenterConverged(old, updated, epsilon)
  def kMeansPlusPlus(seed: Int, centers: Array[Point], weights: Array[Double],
                     k: Int, maxIterations: Int): Array[Point] =
    LocalKMeans.kMeansPlusPlus(seed, centers, weights, k, maxIterations)
  def random(seed: Long): java.util.Random = new XORShiftRandom(seed)
}
