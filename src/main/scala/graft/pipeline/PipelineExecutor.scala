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
  * Spark shape: the whole chain is ONE lazy logical plan until each zone
  * write; links are tiny (≤ 3·maxArticles) so the links×content join is a
  * broadcast — no shuffle anywhere except the keep-last link dedup, whose
  * key space is also ≤ 3·maxArticles rows. The two-zone parquet layout and
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
    // explode (P13: dense 0..n-1 over the stable link key — computed
    // distributed via range-partition + partition-offset prefix sums, not
    // a single-partition global window and not
    // monotonically_increasing_id), explode to paragraph grain (F22)
    val merged = broadcast(links)
      .join(content, links("se_link") === content("bs_link"), "inner")
    val withIdx = graft.util.Ids.denseIndex(merged, "article_index", "se_link")
    val raw = withIdx
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
