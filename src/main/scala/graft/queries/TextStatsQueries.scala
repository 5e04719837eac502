package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.nlp.text.{Text, TextStats}

/** Oracle queries for the text-analysis operators: language ID, quality
  * scoring, token counting, winnowing fingerprints.
  */
object TextStatsQueries {

  private val stopListSql = Text.stopwords.map(s => s"'$s'").mkString(", ")

  // Text.tokens replicated in DuckDB — see OracleSql.toks (ADVICE r01).
  private val toksExpr = OracleSql.toks("text")

  /** q29: char-trigram language ID (profiles learned per labeled lang,
    * docs classified by profile overlap).
    */
  def q29LangId(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextStats.langIdByTrigram(Tables.balanced(spark, dir, "documents"),
        "doc_id", "text", "lang", profileSize = 20)
      .select($"doc_id", $"lang",
        coalesce($"pred_lang", lit("und")).as("pred_lang"),
        coalesce($"correct", lit(false)).as("correct"))
      .orderBy($"doc_id")
  }

  val q29Sql: String =
    """WITH tri AS (
      |  SELECT doc_id, lang, substr(text, i, 3) AS tri
      |  FROM (SELECT doc_id, lang, text,
      |          unnest(generate_series(1, length(text) - 2)) AS i
      |        FROM documents WHERE length(text) >= 3)
      |), prof AS (
      |  SELECT lang, tri,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tri) AS rk
      |  FROM tri GROUP BY lang, tri QUALIFY rk <= 20
      |), doctri AS (
      |  SELECT DISTINCT doc_id, tri FROM tri
      |), score AS (
      |  SELECT doc_id, lang, COUNT(*) AS overlap
      |  FROM doctri d JOIN prof p USING (tri)
      |  GROUP BY doc_id, lang
      |), best AS (
      |  SELECT doc_id, lang AS pred_lang,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id
      |      ORDER BY overlap DESC, lang) AS rk
      |  FROM score QUALIFY rk = 1)
      |SELECT d.doc_id, d.lang,
      |  COALESCE(b.pred_lang, 'und') AS pred_lang,
      |  COALESCE(d.lang = b.pred_lang, FALSE) AS correct
      |FROM documents d LEFT JOIN best b USING (doc_id) ORDER BY d.doc_id""".stripMargin

  /** q37: top-50 lemmatized terms (F14 lemmatizer over the corpus).
    * Top-k FIRST via orderBy+limit — Spark plans TakeOrderedAndProject
    * (per-partition partial top-50, tiny driver merge), so no vocabulary-
    * sized single-partition WindowExec at any corpus size. The rank window
    * then runs over exactly 50 rows, unpartitioned by design: WindowExec
    * logs "No Partition Defined", which costs nothing here, since the top-50
    * is already one partition.
    */
  def q37LemmaCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    Tables.balanced(spark, dir, "documents")
      .select(explode(Text.lemmatize(Text.tokens($"text"))).as("lemma"))
      .groupBy($"lemma").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"lemma")
      .limit(50)
      .withColumn("rk", row_number().over(
        Window.orderBy($"cnt".desc, $"lemma")).cast("long"))
      .orderBy($"rk")
  }

  val q37Sql: String = {
    val irr = Text.irregulars
      .map { case (f, t) => s"WHEN term = '$f' THEN '$t'" }.mkString(" ")
    s"""WITH tok AS (
      |  SELECT unnest($toksExpr) AS term
      |  FROM documents
      |), lem AS (
      |  SELECT CASE $irr
      |    WHEN regexp_matches(term, 'sses$$') THEN regexp_replace(term, 'es$$', '')
      |    WHEN regexp_matches(term, '....ies$$') THEN regexp_replace(term, 'ies$$', 'y')
      |    WHEN regexp_matches(term, '...ing$$') THEN regexp_replace(term, 'ing$$', '')
      |    WHEN regexp_matches(term, '...ed$$') THEN regexp_replace(term, 'ed$$', '')
      |    WHEN regexp_matches(term, '..[^su]s$$') THEN regexp_replace(term, 's$$', '')
      |    ELSE term END AS lemma
      |  FROM tok
      |), counted AS (
      |  SELECT lemma, COUNT(*) AS cnt FROM lem GROUP BY lemma
      |), ranked AS (
      |  SELECT lemma, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, lemma) AS rk
      |  FROM counted)
      |SELECT lemma, cnt, CAST(rk AS BIGINT) AS rk FROM ranked
      |WHERE rk <= 50 ORDER BY rk""".stripMargin
  }

  /** q30: quality features + composite score per doc. */
  def q30Quality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextStats.qualityScore(Tables.balanced(spark, dir, "documents"), "text")
      .select($"doc_id", $"n_tokens", $"n_distinct", $"stopword_ratio",
        $"chars_per_token", $"quality")
      .orderBy($"doc_id")
  }

  val q30Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, length(text) AS n_chars_t, $toksExpr AS toks
      |  FROM documents
      |), raw AS (
      |  SELECT doc_id,
      |    CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
      |    len(list_filter(toks, t -> t IN ($stopListSql))) / CAST(len(toks) AS DOUBLE) AS stop_ratio,
      |    n_chars_t / CAST(len(toks) AS DOUBLE) AS cpt
      |  FROM tok WHERE len(toks) > 0)
      |SELECT doc_id, n_tokens, n_distinct,
      |  round(stop_ratio, 6) AS stopword_ratio,
      |  round(cpt, 6) AS chars_per_token,
      |  least(n_tokens / 100.0, 1.0) * (n_distinct / CAST(n_tokens AS DOUBLE))
      |        * (1.0 - stop_ratio) AS quality
      |FROM raw ORDER BY doc_id""".stripMargin

  /** q31: token counting — whitespace, BPE-ish regex, chars/4 estimate. */
  def q31TokenCount(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextStats.tokenCounts(Tables.balanced(spark, dir, "documents"), "text")
      .select($"doc_id", $"tokens_ws", $"tokens_re", $"tokens_bpe_est")
      .orderBy($"doc_id")
  }

  val q31Sql: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS tokens_ws,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0B\f\r]')) AS BIGINT) AS tokens_re,
      |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS tokens_bpe_est
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q32: winnowing document fingerprint (k=3 shingles, window=4). */
  def q32Fingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    TextStats.winnowFingerprint(Tables.balanced(spark, dir, "documents"),
        "doc_id", "text", k = 3, window = 4)
      .orderBy($"doc_id")
  }

  val q32Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, $toksExpr AS toks FROM documents
      |), pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |  FROM tok WHERE len(toks) >= 3
      |), sh AS (
      |  SELECT doc_id, i, substr(md5(array_to_string(toks[i:i+2], ' ')), 1, 8) AS h
      |  FROM pos
      |), win AS (
      |  SELECT doc_id, MIN(h) OVER (PARTITION BY doc_id ORDER BY i
      |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
      |  FROM sh
      |), dw AS (SELECT DISTINCT doc_id, wm FROM win)
      |SELECT doc_id, md5(string_agg(wm, '' ORDER BY wm)) AS fingerprint,
      |  CAST(COUNT(*) AS BIGINT) AS n_hashes
      |FROM dw GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
