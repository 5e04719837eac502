package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VecExprs

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the scale plan:
  *   - [[bruteForceTopK]]: exact cosine top-k. The query side is broadcast
  *     (it is by construction small), so the corpus is scanned once with no
  *     shuffle — a BroadcastNestedLoopJoin whose inner loop is a codegen'd
  *     `aggregate(zip_with(...))` dot product. Linear in |corpus|, which is
  *     the right baseline and the verifier for any ANN variant.
  *   - [[bucketedPairs]]: LSH-bucketed near-neighbor pairs. Buckets come
  *     from axis-aligned hyperplane signs (sign of the first `bits`
  *     coordinates) — a deterministic member of the random-hyperplane
  *     cosine-LSH family, portable across engines (no RNG). One shuffle on
  *     the bucket key; pair generation is a self-equi-join per bucket, so
  *     cost is Σ bucket² not n². AQE skew-join splits hot buckets.
  */
object Similarity {

  /** Sign-pattern bucket over the first `bits` coordinates: "1" if ≥ 0. */
  def signBucket(vec: Column, bits: Int): Column =
    array_join(transform(slice(vec, 1, bits),
      x => when(x >= 0, "1").otherwise("0")), "")

  /** All same-bucket pairs with their exact cosine, rounded to 6 dp.
    * Output: (vec_a, vec_b, cosine), vec_a < vec_b.
    */
  def bucketedPairs(df: DataFrame, idCol: String, vecCol: String,
                    bits: Int = 8): DataFrame = {
    val b = df.select(col(idCol), col(vecCol),
      signBucket(col(vecCol), bits).as("bucket"))
    val a = b.select(col(idCol).as("vec_a"), col(vecCol).as("va"), col("bucket"))
    val c = b.select(col(idCol).as("vec_b"), col(vecCol).as("vb"), col("bucket"))
    a.join(c, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(VecExprs.cosine(col("va"), col("vb")), 6).as("cosine"))
  }

  /** IVF (inverted-file) approximate top-k — the 100 TB path: a coarse
    * quantizer of `nlist` cells partitions the corpus once; each query
    * scans only its `nprobe` nearest cells instead of the full corpus.
    * Centroids are a tiny broadcast dimension: each corpus row takes its
    * nearest one by `VecExprs.sqDist` (no shuffle), then a hash join
    * corpus⋈(query,cell) feeds a per-query top-k. Recall tunes with
    * nprobe; [[bruteForceTopK]] is the verifier.
    *
    * The quantizer is no MLlib fit but a seeded Lloyd loop (`nlist` random
    * initial rows, 8 iterations) in ONE task over the fit sample sorted by
    * id, so the centroids do not depend on partitioning. IVF needs
    * roughly-balanced cells, not converged clusters (recall comes from
    * nprobe, verified in SimilaritySpec). The sample is a deterministic
    * md5(id) sample of about `fitSampleRows` rows, so a 100 TB corpus never
    * lands in that task. Sizing it needs the corpus row count: `totalRows`
    * is that hint (`Tables.rowCount` reads it from parquet footers without
    * a job); with no hint the corpus is counted here, as the bound must hold.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
              vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
              seed: Long = 42L, fitSampleRows: Int = 100000,
              totalRows: Option[Long] = None): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val total = totalRows.getOrElse(corpus.count())
    val fitDf =
      if (total > fitSampleRows)
        graft.sampling.Sampling.deterministicSample(
          corpus, col(idCol), fitSampleRows.toDouble / total)
      else corpus
    val centers = fitDf.select(col(idCol), col(vecCol)).repartition(1)
      .sortWithinPartitions(idCol).select(col(vecCol)).as[Array[Float]]
      .mapPartitions(rows => lloyd(rows.toArray, nlist, seed, iterations = 8).iterator)
      .collect()
    val cells = Seq(Tuple1(centers)).toDF("_cells")

    val assigned = corpus.crossJoin(broadcast(cells))
      .withColumn("_d", transform(col("_cells"), c => VecExprs.sqDist(col(vecCol), c)))
      .withColumn("_cell", array_position(col("_d"), array_min(col("_d"))).cast("int") - 1)
    val centroids = cells.select(posexplode(col("_cells")).as(Seq("_cell", "_centroid")))

    val probeW = Window.partitionBy(col("query_id")).orderBy(col("cdist"), col("_cell"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", VecExprs.sqDist(col("qv"), col("_centroid")))
      .withColumn("prk", row_number().over(probeW))
      .filter(col("prk") <= nprobe)
      .select(col("query_id"), col("qv"), col("_cell"))

    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    assigned
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("_cell"))
      .join(broadcast(probes), Seq("_cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(VecExprs.cosine(col("qv"), col("cv")), 6))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("neighbor_id"), col("cosine"))
  }

  /** `iterations` Lloyd steps from `k` distinct rows drawn with `seed`, in
    * the arithmetic of VecExprs.sqDist; an empty cell keeps its centroid.
    */
  private def lloyd(points: Array[Array[Float]], k: Int, seed: Long,
                    iterations: Int): Array[Array[Double]] = {
    def sqDist(p: Array[Float], c: Array[Double]): Double = {
      var acc = 0.0
      var d = 0
      while (d < p.length) { val x = p(d) - c(d); acc += x * x; d += 1 }
      acc
    }
    var centers = new scala.util.Random(seed).shuffle(points.indices.toVector)
      .take(k).map(points(_).map(_.toDouble)).toArray
    for (_ <- 1 to iterations) {
      val cells = points.groupBy(p => centers.indices.minBy(j => sqDist(p, centers(j))))
      centers = centers.indices.map(j => cells.get(j).fold(centers(j))(ps =>
        Array.tabulate(ps.head.length)(d => ps.map(_(d).toDouble).sum / ps.length))).toArray
    }
    centers
  }

  /** Exact cosine top-k neighbors for each row of `queries` against
    * `corpus`. Ranking is on the ROUNDED cosine with id tie-break so the
    * ordering is reproducible across engines/float-sum orders.
    * Output: (query_id, rk, neighbor_id, cosine).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(VecExprs.cosine(col("qv"), col("cv")), 6))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk").cast("long").as("rk"),
        col("neighbor_id"), col("cosine"))
  }
}
