package graft.wizard

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VecExprs

/** Medoid selection (reference word_wizard.py:719-746, operators W1/W2/J5).
  *
  * Two strategies, as in the reference:
  *  - [[byCentroid]] (KMeans path, W1): distance of each member to its
  *    cluster centroid, keep the n closest. Linear — centroids come from one
  *    aggregation, distances from one map — this is the 100 TB path.
  *  - [[byPairwise]] (HDBSCAN path, W2/J5): mean pairwise distance within
  *    the cluster, keep the n smallest. O(n²) per cluster — gated by design
  *    behind an explicit choice, exactly as SURVEY.md §2.3 J5 warns.
  *
  * Ranking compares squared distances (monotone in distance) to avoid a
  * sqrt that buys nothing.
  */
object Medoids {

  /** n rows closest to their cluster's centroid.
    * Returns (idCol, clusterCol, rank) — rank 1..n.
    *
    * Centroids come from the [[graft.functions.VecAgg.vecAvg]] typed
    * aggregator — one partial-agg shuffle of (Σ, n) buffers at cluster
    * grain — and broadcast back (clusters are a tiny dimension), so the
    * corpus shuffles exactly once (the rank window). The relational
    * alternative posexplodes dims and moves dims× the data through three
    * dim-grain exchanges for the same answer.
    */
  def byCentroid(df: DataFrame, idCol: String, clusterCol: String,
                 vecCol: String, n: Int): DataFrame = {
    val centroids = df.groupBy(col(clusterCol))
      .agg(graft.functions.VecAgg.vecAvg(col(vecCol).cast("array<double>"))
        .as("centroid"))
    val sq = df.join(broadcast(centroids), Seq(clusterCol))
      .select(col(idCol), col(clusterCol),
        VecExprs.sqDist(col(vecCol), col("centroid")).as("sqdist"))
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col("sqdist"), col(idCol))
    sq.withColumn("medoid_rank", row_number().over(w))
      .filter(col("medoid_rank") <= n)
      .select(col(idCol), col(clusterCol), col("medoid_rank"))
  }

  /** n rows with smallest mean pairwise distance within their cluster
    * (self-join on the cluster key; skips singleton "noise" handling — the
    * reference drops label −1, callers filter first).
    *
    * The self-join is O(size²) per cluster, so a single 10 M-row cluster at
    * real scale would mean 10¹⁴ pairs. Clusters larger than
    * `maxClusterSize` are deterministically sub-sampled (md5(id) fraction,
    * [[graft.sampling.Sampling.hashFrac]]) down to ~the cap before pairing:
    * medoids are then exact over the sample — the standard estimator (same
    * move as the reference's own subsample knobs) — and the pair count is
    * bounded by clusters × cap². Clusters at or under the cap are untouched,
    * so small-scale results (and the q20 oracle) are bit-identical.
    */
  def byPairwise(df: DataFrame, idCol: String, clusterCol: String,
                 vecCol: String, n: Int,
                 maxClusterSize: Int = 20000): DataFrame = {
    require(maxClusterSize >= math.max(n, 2),
      s"maxClusterSize=$maxClusterSize too small for n=$n medoids")
    val sizes = df.groupBy(col(clusterCol)).agg(count(lit(1)).as("_cl_n"))
    val capped = df.join(broadcast(sizes), Seq(clusterCol))
      .filter(col("_cl_n") <= maxClusterSize ||
        graft.sampling.Sampling.hashFrac(col(idCol)) <
          lit(maxClusterSize.toDouble) / col("_cl_n"))
      .drop("_cl_n")
    val a = capped.select(col(idCol).as("a_id"), col(clusterCol).as("cl"), col(vecCol).as("a_vec"))
    val b = capped.select(col(idCol).as("b_id"), col(clusterCol).as("cl"), col(vecCol).as("b_vec"))
    val pair = a.join(b, Seq("cl")).filter(col("a_id") =!= col("b_id"))
      .withColumn("d", sqrt(VecExprs.sqDist(col("a_vec"), col("b_vec"))))
    val avgd = pair.groupBy(col("cl"), col("a_id"))
      .agg((sum(col("d")) / count(lit(1))).as("avg_dist"))
    val w = Window.partitionBy(col("cl")).orderBy(col("avg_dist"), col("a_id"))
    avgd.withColumn("medoid_rank", row_number().over(w))
      .filter(col("medoid_rank") <= n)
      .select(col("a_id").as(idCol), col("cl").as(clusterCol), col("medoid_rank"))
  }
}
