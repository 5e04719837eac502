package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle query for binary-column plumbing: text bytes as an opaque
  * `binary` column with byte-length + content-hash metadata.
  */
object MultimodalQueries {

  /** q33: binary ingestion metadata (octet length, md5 of the raw bytes).
    * Plain scan, not [[graft.Tables.balanced]] (r21): encode+md5 is one
    * cheap pass, so the balance repartition was a pure extra exchange of
    * the payload bytes (same reasoning as q23).
    */
  def q33BinaryFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables(spark, dir, "documents")
      .select($"doc_id", lit("text").as("modality"),
        encode($"text", "utf-8").as("bin"))
      .select($"doc_id", $"modality",
        octet_length($"bin").cast("long").as("n_bytes"),
        md5($"bin").as("content_md5"))
      .orderBy($"doc_id")
  }

  val q33Sql: String =
    """SELECT doc_id, 'text' AS modality,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents ORDER BY doc_id""".stripMargin
}
