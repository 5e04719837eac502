package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.clean.Cleaner

class CleanerSpec extends SparkSpec {
  import spark.implicits._

  /** The CASE-projection form of flag-then-drop, kept as the reference the
    * filter form must equal: normalize, null each flagged cell with one
    * CASE per column, then drop rows holding a null.
    */
  private def referenceClean(df: DataFrame, cols: Seq[String] =
      Seq("title", "description", "body", "paragraph")): DataFrame = {
    val present = cols.filter(df.columns.contains)
    val blacklistRe =
      "(?i)(" + Cleaner.blacklist.map(java.util.regex.Pattern.quote).mkString("|") + ")"
    val normalized = present.foldLeft(df)((d, n) => d.withColumn(n, Cleaner.normalize(col(n))))
    val flagged = present.foldLeft(normalized) { (d, n) =>
      val c = col(n)
      val contentBad =
        if (n == "body") lit(false) else c.rlike(blacklistRe) || c.rlike(Cleaner.removalRe)
      d.withColumn(n, when(contentBad || length(c) < Cleaner.minLens.getOrElse(n, 1) ||
        c.rlike("^\\s*$"), lit(null)).otherwise(c))
    }
    flagged.na.drop("any", present)
  }

  private def referenceCleanArticles(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType).map(_.name)
    val coalesced = df.na.fill("", strCols)
      .withColumn("body", Cleaner.longestOf(col("n3k_body"), col("bs_body")))
      .withColumn("title", Cleaner.longestOf(col("n3k_title"), col("bs_title")))
      .withColumn("title",
        when(length(col("se_title")) > length(col("title")), col("se_title"))
          .otherwise(col("title")))
      .withColumnRenamed("se_link", "link")
      .withColumnRenamed("se_description", "description")
      .withColumnRenamed("se_source", "source")
    referenceClean(coalesced).select("article_index", "engine", "link", "source",
      "title", "description", "body", "paragraph")
  }

  /** Rows where every rule bites one cell, and the edge cells that must
    * survive: a title of exactly the minimum length (in code points, also
    * with a trailing \r or made of emoji), an upper-case URL scheme (P9 is
    * case-sensitive), a URL and "cookie" inside body, null and
    * whitespace-only cells.
    */
  private lazy val everyRule: DataFrame = {
    val (t, d, b, p) = ("A perfectly fine headline", "Plain description text. " * 6,
      "Body sentence with enough words. " * 15, "Paragraph words go here. " * 8)
    val emoji = "\uD83D\uDE00"
    Seq[(String, String, String, String)](
      (t, d, b, p),
      ("Please SUBSCRIBE to our daily brief", d, b, p),       // P7
      ("Read www.example.com for the headline", d, b, p),     // P9
      (t, "Write to a.b@example.io. " + d, b, p),             // P9
      (t, "JavaScript required. " + d, b, p),                 // P7
      (t, d, b, "Call +1 (415) 555-0199 now. " + p),          // P9
      (t, d, b, "Accept the COOKIE banner. " + p),            // P7
      ("tiny", d, b, p),                                      // P8
      ("Exactly twenty chars", d, b, p),                      // P8 edge: kept
      ("Exactly twenty char", d, b, p),                       // P8: 19
      ("Nineteen chars here\r", d, b, p),                     // 20 with \r: kept
      (emoji * 20, d, b, p),                                  // 20 code points: kept
      (emoji * 19, d, b, p),                                  // 19 code points
      ("Visit HTTPS://EXAMPLE.ORG today, friends", d, b, p),  // kept
      (t, d, "See https://example.com/ir and accept cookie use. " + b, p), // kept
      (t, d, "\r" * 450, p),                                  // P10 only
      ("   \t \n   ", d, b, p),                               // whitespace-only
      (t, d, "Too short a body.", p),                         // P8
      (t, d, b, "<b>Tagged</b>\n\n\tparagraph " + p),          // normalized, kept
      (null, d, b, p),
      (t, null, b, p),
      (t, d, null, p),
      (t, d, b, null)
    ).zipWithIndex.map { case ((a, c, e, f), i) => (i.toLong, a, c, e, f) }
      .toDF("id", "title", "description", "body", "paragraph")
  }

  test("clean and cleanArticles equal the CASE-projection form row for row") {
    val want = referenceClean(everyRule).orderBy("id").collect().toSeq
    assert(Cleaner.clean(everyRule).orderBy("id").collect().toSeq == want)
    assert(want.size > 5 && want.size < 15, s"fixture should keep some rows and drop most: $want")
    val raw = everyRule.select($"id".as("article_index"), lit("Google").as("engine"),
      concat(lit("https://news.example.com/a-"), $"id".cast("string")).as("se_link"),
      lit("source-1").as("se_source"), $"title".as("se_title"),
      $"description".as("se_description"), lit("Short n3k title").as("n3k_title"),
      $"body".as("n3k_body"), lit("bs title").as("bs_title"),
      substring($"body", 1, 300).as("bs_body"), $"paragraph")
    assert(Cleaner.cleanArticles(raw).orderBy("article_index").collect().toSeq ==
      referenceCleanArticles(raw).orderBy("article_index").collect().toSeq)
  }

  test("normalize collapses whitespace and strips tags") {
    val got = Seq("a\tb   c\n<b>d</b>").toDF("t")
      .select(Cleaner.normalize($"t")).head.getString(0)
    assert(got == "a b c d")
  }

  /** The `title` cells of `rows` that survive [[Cleaner.clean]]. */
  private def survivingTitles(rows: String*): Seq[String] =
    Cleaner.clean(rows.toDF("title")).collect().map(_.getString(0)).toSeq

  test("clean drops a row whose cell holds a blacklist phrase in any case") {
    assert(survivingTitles("Please SUBSCRIBE now to the brief", "fine text for a long title") ==
      Seq("fine text for a long title"))
  }

  test("clean drops a row whose cell holds a url, email or phone; tags are stripped first") {
    val got = survivingTitles("see https://x.io/a for the details",
      "mail a.b@x.io for the details", "call +1 (415) 555-0199 for details",
      "has <div> tag in the middle of it", "clean prose that is long enough")
    assert(got == Seq("has tag in the middle of it", "clean prose that is long enough"))
  }

  test("clean drops a row with a cell under its column's minimum length") {
    val (title, description) = ("long enough indeed!!", "d" * 100)
    val got = Cleaner.clean(Seq(
        (title, description), ("short", description), (title, "d" * 99))
      .toDF("title", "description"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq((title, description)))
  }

  test("body is exempt from blacklist and boilerplate nulling (content_cleaner.py:81-85,121-122)") {
    val title = "A perfectly fine headline"
    val bodyWithUrl =
      ("Read the full statement at https://example.com/ir and please subscribe " +
        "for cookie updates. ") + "x" * 400
    val df = Seq(
      (title, bodyWithUrl),                  // URL + blacklist words in body -> must survive
      (title, "too short body")              // body min-length still applies -> dropped
    ).toDF("title", "body")
    val got = Cleaner.clean(df, Seq("title", "body"))
    assert(got.count() == 1)
    assert(got.head.getString(1).contains("https://example.com/ir"))
  }

  test("cleanArticles compiles under whole-stage codegen (no janino 64KB fallback)") {
    val raw = Seq.tabulate(8) { i =>
      (i.toLong, "google", s"https://news.example/a$i", "example",
        "A perfectly long search headline " + i,
        "d" * 120 + i,
        "An equally fine n3k headline " + i, "b" * 450 + i,
        "A shorter bs headline " + i, "c" * 460 + i,
        "p" * 180 + i)
    }.toDF("article_index", "engine", "se_link", "se_source", "se_title",
      "se_description", "n3k_title", "n3k_body", "bs_title", "bs_body",
      "paragraph")
      // keep the input out of ConvertToLocalRelation so the clean chain
      // actually codegens instead of constant-folding at optimization time
      .repartition(2)
    // With fallback disabled, any "Code grows beyond 64 KB" janino error
    // in the clean chain surfaces as an exception instead of a silent
    // interpreted-mode downgrade.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = Cleaner.cleanArticles(raw)
      assert(out.collect().length == 8) // materializes the AQE final plan
      // WholeStageCodegen prints as "*(n)" in the AQE final-plan string
      val planStr = out.queryExecution.executedPlan.toString
      assert(planStr.contains("WholeStageCodegen") ||
        "\\*\\(\\d+\\)".r.findFirstIn(planStr).isDefined)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("clean drops rows with any flagged required column and is idempotent") {
    val ok = "x" * 25
    val df = Seq(
      (ok, "javascript " + "y" * 100),    // description blacklisted -> dropped
      (ok, "z" * 120),                    // survives
      ("tiny", "w" * 120)                 // title too short -> dropped
    ).toDF("title", "description")
    val once = Cleaner.clean(df, Seq("title", "description"))
    assert(once.count() == 1)
    val twice = Cleaner.clean(once, Seq("title", "description"))
    assert(twice.collect().toSeq == once.collect().toSeq)
  }
}
