package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ingest.{Content, FixtureFetcher, LinkExtractor, MainContent}
import graft.pipeline.PipelineExecutor

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("allLinks: per-engine cap, yahoo decode, keep-last dedup, no dup urls") {
    val links = LinkExtractor.allLinks(spark, "test topic", 30).cache()
    val n = links.count()
    assert(n > 0 && n <= 90)
    // all decoded: no RU= wrappers survive
    assert(links.filter($"se_link".contains("RU=")).count() == 0)
    // dedup: link unique (nulls excluded from uniqueness claim)
    val nonNull = links.filter($"se_link".isNotNull)
    assert(nonNull.count() == nonNull.select("se_link").distinct().count())
    // keep-LAST: canonical URLs shared across engines must resolve to the
    // latest source in the list (Yahoo, arrival=2) when Yahoo also has them
    val enginesForShared = links
      .filter($"se_link".startsWith("https://news.example.com/test-topic/article-"))
      .groupBy($"engine").count().collect.map(_.getString(0)).toSet
    assert(enginesForShared == Set("Yahoo"))
    links.unpersist()
  }

  test("MainContent picks the hierarchy with most text, in document order") {
    val html = """<html><body>
      |<div class="nav"><p>one</p><p>two</p></div>
      |<h1>Head Line</h1>
      |<div class="main"><p>first long paragraph of real content here</p>
      |<p>second long paragraph of real content here</p></div>
      |</body></html>""".stripMargin
    val parsed = MainContent.extract(html)
    assert(parsed.title == "Head Line")
    assert(parsed.paragraphs.size == 2)
    assert(parsed.paragraphs.head.startsWith("first long"))
    assert(parsed.body == parsed.paragraphs.mkString("\n"))
  }

  test("Content.fetch drops failed rows, keeps them when keepErrors") {
    val urls = (0 until 200).map(i => s"https://x.io/a-$i").toDF("se_link")
    val ok = Content.fetch(urls)
    val all = Content.fetch(urls, FixtureFetcher, keepErrors = true)
    assert(all.count() == 200)
    val failed = all.filter($"error".isNotNull).count()
    assert(failed > 0 && ok.count() == 200 - failed)
    assert(!ok.columns.contains("error"))
  }

  test("pipeline end-to-end: canonical schema, cache hit, paragraph grain") {
    val dir = Files.createTempDirectory("graft-pipe").toString
    val pipe = new PipelineExecutor(dir)
    val out = pipe.execute(spark, "nvidia earnings", maxArticles = 20)
    assert(out.columns.toSeq == Seq("article_index", "engine", "link", "source",
      "title", "description", "body", "paragraph"))
    val n = out.count()
    assert(n > 0)
    // paragraph grain: more rows than articles, regroupable by article_index
    val articles = out.select("article_index").distinct().count()
    assert(articles > 0 && n >= articles)
    // footer boilerplate never survives the cleaner
    assert(out.filter(lower($"paragraph").contains("subscribe")).count() == 0)
    // cache hit: same result without recompute, and no job before the action
    assert(jobsDuring(pipe.execute(spark, "nvidia earnings", maxArticles = 20)) == 0)
    val again = pipe.execute(spark, "nvidia earnings", maxArticles = 20)
    assert(again.count() == n)
  }

  test("a miss numbers articles 0..n-1 in link order, in two jobs") {
    val dir = Files.createTempDirectory("graft-pipe-idx").toString
    val pipe = new PipelineExecutor(dir)
    pipe.execute(spark, "chip exports", maxArticles = 40)
    // raw write plus clean write; the link side adds no job of its own
    assert(jobsDuring(pipe.execute(spark, "chip exports", maxArticles = 40, overwrite = true)) <= 2)
    // the raw zone holds every fetched article; the cleaner may drop some
    val articles = spark.read.parquet(pipe.rawPath("chip exports", 40))
      .select($"article_index", $"se_link".as("link")).distinct()
    val want = articles.withColumn("want",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("link")) - 1)
    assert(want.count() > 10)
    assert(want.filter($"article_index" =!= $"want").count() == 0)
    val clean = pipe.execute(spark, "chip exports", maxArticles = 40)
      .select("article_index", "link").distinct()
    assert(clean.count() > 0 && clean.exceptAll(articles).count() == 0)
  }
}
