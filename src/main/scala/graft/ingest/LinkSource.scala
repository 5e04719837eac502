package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Link ingestion (reference etl_pipeline/link_extractor.py — operators
  * S3–S6, J3, U1, O1).
  *
  * The reference scrapes Google/Bing/Yahoo news result pages. This
  * environment is zero-egress, so sources are a trait with deterministic
  * fixture implementations that reproduce each engine's *shape*: Yahoo
  * links arrive URL-encoded inside a `RU=…/RK` wrapper
  * (link_extractor.py:449-450), some results carry null links
  * (filtered by P1), and the same URL can surface from several engines
  * (keep-LAST dedup J3, link_extractor.py:558). A real HTTP source
  * implements the same trait with a DSv2 connector or a driver-side pager.
  *
  * Scale: each source emits a lazily-generated `spark.range`-backed frame —
  * no driver-side collections — and the per-engine `max_articles` cap (O1)
  * is a `limit` Catalyst pushes into the range scan.
  */
trait LinkSource extends Serializable {
  def name: String
  /** Columns: engine, se_link, se_title, se_description, se_source. */
  def links(spark: SparkSession, query: String, maxArticles: Int): DataFrame
}

/** Deterministic fixture engine: link universe derived from md5(query,i).
  * `overlap` controls how many of its URLs collide with other engines'
  * (same canonical URL space) to exercise the keep-last dedup.
  */
final class FixtureLinkSource(val name: String, dropEvery: Int = 17,
                              encodeYahoo: Boolean = false) extends LinkSource {
  def links(spark: SparkSession, query: String, maxArticles: Int): DataFrame = {
    val q = query.toLowerCase.replaceAll("\\s+", "-")
    // canonical URL space shared across engines -> cross-engine duplicates
    val canonical = concat(lit(s"https://news.example.com/$q/article-"),
      (col("id") % 50).cast("string"))
    val link = if (encodeYahoo)
      concat(lit("https://r.search.yahoo.com/_ylt="),
        substring(md5(canonical), 1, 8), lit("/RU="),
        url_encode(canonical), lit("/RK=2"))
    else canonical
    val id = col("id")
    spark.range(maxArticles).select(
      lit(name).as("engine"),
      when(id % dropEvery === lit(dropEvery - 1), lit(null)).otherwise(link).as("se_link"),
      concat(lit(s"$name result about $query #"), id.cast("string")).as("se_title"),
      concat(lit(s"Search description from $name for query '$query', item "),
        id.cast("string"),
        lit(". Deterministic fixture snippet long enough to survive the description length rule of the cleaner stage.")
      ).as("se_description"),
      concat(lit("source-"), (id % 7).cast("string")).as("se_source"))
  }
}

object LinkExtractor {

  /** The three reference engines as fixtures (Yahoo link-encoded). */
  def defaultSources: Seq[LinkSource] = Seq(
    new FixtureLinkSource("Google"),
    new FixtureLinkSource("Bing"),
    new FixtureLinkSource("Yahoo", encodeYahoo = true))

  /** F4+F5: decode Yahoo's `RU=<urlencoded>/RK` wrapper, pass others through. */
  def decodeLink(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ru = regexp_extract(c, "RU=(.+?)/RK", 1)
    when(ru =!= "", url_decode(ru)).otherwise(c)
  }

  /** S6/U1/J3/O1: fan out all engines, cap each at `maxArticles`, decode
    * links, union, and dedup by URL keeping the LAST engine's record
    * (arrival order = source position, as the reference's dict-overwrite
    * does at link_extractor.py:558). The result is at most
    * `sources.size × maxArticles` rows, so it lives on one partition: the
    * window's clustering is then already satisfied and the dedup runs in
    * the fan-out's own task, with no exchange.
    */
  def allLinks(spark: SparkSession, query: String, maxArticles: Int,
               sources: Seq[LinkSource] = defaultSources): DataFrame = {
    val perEngine = sources.zipWithIndex.map { case (s, i) =>
      val l = s.links(spark, query, maxArticles).limit(maxArticles)
      l.select(l.columns.map {
        case "se_link" => decodeLink(col("se_link")).as("se_link")
        case c => col(c)
      } :+ lit(i).as("arrival"): _*)
    }
    val all = perEngine.reduce(_ unionByName _).coalesce(1)
    val w = Window.partitionBy(col("se_link")).orderBy(col("arrival").desc)
    all.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn", "arrival")
  }
}
