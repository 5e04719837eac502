package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.sim.Similarity

/** Oracle queries for similarity search over the embeddings table
  * (`embedding: array<float>`, 64-d). Cosines are computed in double and
  * rounded to 6 dp BEFORE any ranking, so ordering is reproducible across
  * engines regardless of float-sum order.
  */
object SimQueries {

  /** q27: LSH-bucketed near-neighbor pairs — deterministic sign-pattern
    * buckets over the first 8 coordinates, exact cosine within bucket.
    * Scale path: Σ bucket² work instead of n².
    */
  def q27EmbedNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.bucketedPairs(Tables.balanced(spark, dir, "embeddings"),
        "vec_id", "embedding", bits = 8)
      .orderBy($"vec_a", $"vec_b")
  }

  val q27Sql: String =
    """WITH b AS (
      |  SELECT vec_id,
      |    array_to_string(list_transform(embedding[1:8],
      |      x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
      |  FROM embeddings
      |), dims AS (
      |  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS dim,
      |    unnest(embedding) AS v
      |  FROM embeddings
      |), nrm AS (
      |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS n
      |  FROM dims GROUP BY vec_id
      |), cand AS (
      |  SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b
      |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
      |), dt AS (
      |  SELECT c.vec_a, c.vec_b, SUM(CAST(da.v AS DOUBLE) * CAST(db.v AS DOUBLE)) AS dp
      |  FROM cand c JOIN dims da ON da.vec_id = c.vec_a
      |              JOIN dims db ON db.vec_id = c.vec_b AND db.dim = da.dim
      |  GROUP BY c.vec_a, c.vec_b)
      |SELECT d.vec_a, d.vec_b, round(d.dp / (na.n * nb.n), 6) AS cosine
      |FROM dt d JOIN nrm na ON na.vec_id = d.vec_a
      |          JOIN nrm nb ON nb.vec_id = d.vec_b
      |ORDER BY vec_a, vec_b""".stripMargin

  /** q28: exact brute-force cosine top-5 for the first 10 vectors as
    * queries — the ANN baseline/verifier. Query side broadcast; corpus
    * scanned once, no shuffle of the big side.
    */
  def q28AnnTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.balanced(spark, dir, "embeddings")
    Similarity.bruteForceTopK(
        emb.filter($"vec_id" < 10), emb, "vec_id", "embedding", k = 5)
      .orderBy($"query_id", $"rk")
  }

  /** q41: IVF approximate top-5 for the same 10 query vectors — the
    * 100 TB similarity path (seeded Lloyd quantizer fitted in one task, no
    * MLlib fit; nprobe-cell scan instead of the full corpus). The
    * quantizer sees its sample in id order, so results do not depend on
    * partitioning; still there is no DuckDB oracle, as the centroids come
    * from a JVM-seeded random init and 8 float Lloyd steps that SQL cannot
    * portably replay. It is checked by rows and schema only, and
    * SimilaritySpec asserts recall against [[q28AnnTopk]]'s brute-force
    * ranking.
    */
  def q41IvfTopk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = Tables.balanced(spark, dir, "embeddings")
    // totalRows hint: sizes the quantizer's fit sample so the fit never
    // sees the full corpus at scale. Summed from the parquet footers on
    // the driver, so building q41 runs no count job.
    Similarity.ivfTopK(emb.filter($"vec_id" < 10), emb,
        "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4,
        totalRows = Some(Tables.rowCount(spark, dir, "embeddings")))
      .orderBy($"query_id", $"rk")
  }

  val q28Sql: String =
    """WITH dims AS (
      |  SELECT vec_id, unnest(generate_series(1, len(embedding))) AS dim,
      |    unnest(embedding) AS v
      |  FROM embeddings
      |), nrm AS (
      |  SELECT vec_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS n
      |  FROM dims GROUP BY vec_id
      |), dt AS (
      |  SELECT da.vec_id AS query_id, db.vec_id AS neighbor_id,
      |    SUM(CAST(da.v AS DOUBLE) * CAST(db.v AS DOUBLE)) AS dp
      |  FROM dims da JOIN dims db ON db.dim = da.dim AND db.vec_id <> da.vec_id
      |  WHERE da.vec_id < 10
      |  GROUP BY da.vec_id, db.vec_id
      |), scored AS (
      |  SELECT query_id, neighbor_id, round(dp / (na.n * nb.n), 6) AS cosine
      |  FROM dt JOIN nrm na ON na.vec_id = query_id
      |          JOIN nrm nb ON nb.vec_id = neighbor_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY cosine DESC, neighbor_id) AS rk
      |  FROM scored)
      |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, cosine
      |FROM ranked WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
}
