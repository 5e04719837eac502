package graft.clean

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's content cleaner re-expressed as pure Column expressions
  * (reference: content_cleaner.py:5-131; operators P4–P12, F1–F3 in
  * SURVEY.md §2.2/§2.8).
  *
  * Protocol (two-phase, as in the reference): normalize whitespace/HTML →
  * flag bad cells to NULL (blacklist phrases, boilerplate regex, min length,
  * whitespace-only) → drop rows where any required column is null. All rules
  * are Column expressions (`rlike`/`length`) — whole-stage codegen'd, no
  * UDFs, and they push down/compose freely under Catalyst.
  */
object Cleaner {

  /** Boilerplate phrases that invalidate a cell (content_cleaner.py:72-78),
    * matched case-insensitively as substrings.
    */
  val blacklist: Seq[String] = Seq(
    "javascript", "cookie", "subscribe", "newsletter", "sign up", "sign in",
    "log in", "login", "privacy policy", "terms of service", "all rights reserved",
    "copyright", "advertisement")

  private val blacklistRe = "(?i:" + blacklist.map(java.util.regex.Pattern.quote).mkString("|") + ")"

  /** Content patterns that invalidate a cell on substring match
    * (content_cleaner.py:56-61): URLs, emails, phone numbers, html tags.
    */
  val removalRe: String =
    "(https?://\\S+|www\\.\\S+|[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}|\\+?\\d[\\d\\s().-]{7,}\\d|<[^>]+>)"

  /** F1: collapse whitespace runs / strip html-ish tags, then trim. */
  def normalize(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "[\\n\\t ]+", " "))

  /** P8's per-column minimum length (content_cleaner.py:88-94). */
  val minLens: Map[String, Int] =
    Map("title" -> 20, "description" -> 100, "body" -> 400, "paragraph" -> 150)

  /** Full flag-then-drop chain over the canonical article columns present in
    * `df` (P7→P9→P8→P10 then P11 dropna). Column list is dynamic, as in the
    * reference's suffix-convention schema (§1.2).
    *
    * `body` is exempt from the blacklist (P7) and boilerplate-pattern (P9)
    * null-outs — the reference applies those only to title/paragraph/
    * description ("Replaces all entries except bodies",
    * content_cleaner.py:81-85; the removal loop at content_cleaner.py:121-122
    * covers title/paragraph/description only). A URL or the word "cookie"
    * inside an article body must NOT drop the row; min-length and blank
    * rules still apply to body.
    *
    * A row that survives the drop has every flagged cell equal to its
    * normalized value, so flag-then-drop is a filter over the normalized
    * cells: keep the row when no cell is null and no rule bites. Catalyst
    * pushes that filter below the normalize projection and inlines the
    * normalize chain into every reference to a cell, so the filter
    * references each cell exactly once: one pattern per column ORs every
    * null-out rule (see [[ruleRe]]). Each column is then normalized twice
    * (filter, output) and each rule evaluated once.
    */
  def clean(df: DataFrame, cols: Seq[String] = Seq("title", "description", "body", "paragraph")): DataFrame = {
    val present = cols.filter(df.columns.contains)
    // a null cell makes its NOT RLIKE null, which the filter drops like false
    df.withColumns(present.map(c => c -> normalize(col(c))).toMap)
      .filter(present.map(c => !col(c).rlike(ruleRe(c))).reduce(_ && _))
  }

  /** One pattern matching a cell that a null-out rule flags: P7 | P9 (not
    * for body) | P8 | P10. `rlike` finds a match anywhere, so an
    * alternation matches exactly when one of its branches does. P8 is the
    * branch matching a whole cell of fewer than the minimum code points,
    * which is what `length` counts.
    */
  private def ruleRe(name: String): String = {
    val content = if (name == "body") Nil else Seq(blacklistRe, removalRe)
    (content :+ s"\\A[\\s\\S]{0,${minLens.getOrElse(name, 1) - 1}}\\z" :+ "^\\s*$").mkString("|")
  }

  /** P12: pick the longer of two strings; a tie keeps `a`. The reference
    * returns "" on an exact tie (content_cleaner.py:106-113, FIXTURES.md
    * quirk 1); the cleaner fixes that, q9 reproduces it with its own
    * expression.
    */
  def longestOf(a: Column, b: Column): Column =
    when(length(b) > length(a), b).otherwise(a)

  /** The full ETL cleaning stage over the merged links×content frame
    * (content_cleaner.py:5-131): fillna "" (P5) → longest-of body/title
    * coalesce (P12) → rename to canonical names (P4) → flag-then-drop
    * (P7–P11) → canonical 8-column projection (P6). Pure column
    * expressions end to end — no shuffle, one filter and one projection,
    * small enough to stay under janino's 64 KB method limit so the ETL
    * clean path actually runs compiled, not interpreted.
    */
  def cleanArticles(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
    val filled = df.na.fill("", strCols)
    val coalesced = filled
      .withColumn("body", longestOf(col("n3k_body"), col("bs_body")))
      .withColumn("title", longestOf(col("n3k_title"), col("bs_title")))
      .withColumn("title",
        when(length(col("se_title")) > length(col("title")), col("se_title"))
          .otherwise(col("title")))
      .withColumnRenamed("se_link", "link")
      .withColumnRenamed("se_description", "description")
      .withColumnRenamed("se_source", "source")
    clean(coalesced)
      .select("article_index", "engine", "link", "source",
        "title", "description", "body", "paragraph")
  }
}
