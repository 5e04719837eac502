package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.clean.Cleaner
import graft.ingest.{Content, ContentFetcher, FixtureFetcher, LinkExtractor, LinkSource}

/** End-to-end ETL orchestration (reference pipeline_executor.py:30-127 —
  * the §3.1 lifecycle): cache probe → links fan-out → content fetch →
  * merge → explode to paragraph grain → raw zone → clean → clean zone.
  *
  * Spark shape: a miss is two queries, one per zone write, with no driver
  * round trip in between. The link side is bounded (≤ sources ×
  * maxArticles rows), so the fan-out, the keep-last dedup, the fetch, the
  * links×content join and the article numbering all run in one task —
  * no shuffle anywhere. The two-zone parquet layout and
  * `{query}_{maxArticles}` cache key match the reference
  * (pipeline_executor.py:94-101,120-124).
  */
final class PipelineExecutor(
    dataDir: String,
    sources: Seq[LinkSource] = LinkExtractor.defaultSources,
    fetcher: ContentFetcher = FixtureFetcher) {

  /** F7: the reference's filename sanitizer (pipeline_executor.py:94). */
  def sanitize(query: String): String =
    query.trim.replace(" ", "").replaceAll("[\"']", "")

  def rawPath(query: String, maxArticles: Int): String =
    s"$dataDir/raw/${sanitize(query)}_$maxArticles.parquet"
  def cleanPath(query: String, maxArticles: Int): String =
    s"$dataDir/clean/${sanitize(query)}_$maxArticles.parquet"

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The reference's `execute` (pipeline_executor.py:72-127). Returns the
    * clean paragraph-grain DataFrame. Zones are opened with [[Tables.read]],
    * so a cache hit submits no job before the caller's action.
    */
  def execute(spark: SparkSession, query: String, maxArticles: Int = 100,
              overwrite: Boolean = false): DataFrame = {
    val cp = cleanPath(query, maxArticles)
    if (!overwrite && exists(spark, cp)) return Tables.read(spark, cp)

    // 2-4: links fan-out, null filter, content fetch (S3-S9, P1)
    val links = LinkExtractor.allLinks(spark, query, maxArticles, sources)
      .filter(col("se_link").isNotNull)
    val content = Content.fetch(links, fetcher)

    // 5: inner merge (J1, failed fetches drop out), article id BEFORE
    // explode (P13), explode to paragraph grain (F22). Both join sides are
    // the one-partition link side, so a merge join needs no exchange and
    // the whole raw query is one task (a broadcast would be a job of its
    // own). `article_index` is the row's position in that partition after
    // sorting by `se_link`: dense 0..n-1 in link order, and deterministic
    // because the sort key is unique (the keep-last dedup leaves one row
    // per `se_link`, and the fetch maps each link to at most one row).
    // `coalesce(1)` enforces the single partition the numbering relies on.
    val merged = links.hint("merge")
      .join(content, links("se_link") === content("bs_link"), "inner")
      .coalesce(1).sortWithinPartitions("se_link")
    val raw = merged
      .withColumn("article_index", monotonically_increasing_id())
      .withColumn("paragraph", explode(col("bs_paragraph")))
      .drop("n3k_published")
    raw.write.mode("overwrite").parquet(rawPath(query, maxArticles))

    // 6: clean + canonical projection, clean zone
    val clean = Cleaner.cleanArticles(Tables.read(spark, rawPath(query, maxArticles)))
    clean.write.mode("overwrite").parquet(cp)
    Tables.read(spark, cp)
  }
}

/** CLI entry mirroring `python pipeline_executor.py -q ... -x ...`
  * (pipeline_executor.py:131-145).
  */
object Cli {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) => k -> v
    }.toMap
    val query = opts.getOrElse("-q", "example topic")
    val maxArticles = opts.getOrElse("-x", "50").toInt
    val dataDir = opts.getOrElse("-d", "data")
    val spark = graft.Session.local()
    val df = new PipelineExecutor(dataDir).execute(spark, query, maxArticles)
    println(s"rows=${df.count()}")
    spark.stop()
  }
}
