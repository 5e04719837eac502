package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle queries for the cleaner chain (SURVEY.md §2.2 P7–P11).
  *
  * The documents fixture has no boilerplate corpus, so the blacklist here is
  * drawn from its own vocabulary — the *semantics* under test are identical
  * to the reference's: contains-blacklist null-out, min-length null-out,
  * blank null-out, multi-column dropna.
  */
object CleanerQueries {

  /** q15: flag-then-drop cleaning (reference content_cleaner.py two-phase
    * protocol). title/paragraph are derived deterministically from `text` so
    * every rule has rows to bite on.
    */
  def q15Clean(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.balanced(spark, dir, "documents")
      .withColumn("title", substring($"text", 1, 30))
      .withColumn("paragraph", substring($"text", 41, 2000))
    // a row survives flag-then-drop exactly when no rule flags either
    // cell, so the drop is one filter evaluating each rule once per cell
    // (a null cell fails it too)
    val keep = (c: org.apache.spark.sql.Column, minLen: Int) =>
      !c.rlike("(?i)(error|crash)") && length(c) >= minLen && !c.rlike("^\\s*$")
    docs.filter(keep($"title", 20) && keep($"paragraph", 150))
      .select($"doc_id", $"title", $"paragraph")
      .orderBy($"doc_id")
  }

  val q15Sql: String =
    """WITH raw AS (
      |  SELECT doc_id, substr(text, 1, 30) AS title, substr(text, 41, 2000) AS paragraph
      |  FROM documents
      |), flagged AS (
      |  SELECT doc_id,
      |    CASE WHEN regexp_matches(lower(title), '(error|crash)') THEN NULL
      |         WHEN LENGTH(title) < 20 THEN NULL
      |         WHEN regexp_matches(title, '^\s*$') THEN NULL
      |         ELSE title END AS title,
      |    CASE WHEN regexp_matches(lower(paragraph), '(error|crash)') THEN NULL
      |         WHEN LENGTH(paragraph) < 150 THEN NULL
      |         WHEN regexp_matches(paragraph, '^\s*$') THEN NULL
      |         ELSE paragraph END AS paragraph
      |  FROM raw)
      |SELECT doc_id, title, paragraph FROM flagged
      |WHERE title IS NOT NULL AND paragraph IS NOT NULL
      |ORDER BY doc_id""".stripMargin
}
