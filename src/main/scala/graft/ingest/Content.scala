package graft.ingest

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Row-parallel article fetch (reference content_extractor.py:112-201 —
  * S7/S8/S9). Each partition instantiates the fetcher once (the analogue
  * of per-thread session reuse) and maps URLs to the dual-extractor schema;
  * failures become an `error` column the caller filters — row-level fault
  * tolerance, not job failure (content_extractor.py:194-199). The
  * pipeline's link side is bounded and kept on one partition, so there the
  * fetch is one task: a few dozen links leave no parallelism to lose.
  */
object Content {

  final case class RawContent(
      bs_link: String,
      bs_title: String,
      bs_body: String,
      bs_paragraph: Seq[String],
      n3k_link: String,
      n3k_title: String,
      n3k_body: String,
      n3k_author: Seq[String],
      n3k_published: Timestamp,
      error: Option[String])

  /** Fetch + parse each link. Input needs an `se_link` column; output is
    * one RawContent row per SUCCESSFUL fetch (failed rows are filtered
    * after being counted into the `error` column, preserving the
    * reference's skip semantics).
    */
  def fetch(links: DataFrame, fetcher: ContentFetcher = FixtureFetcher,
            keepErrors: Boolean = false): DataFrame = {
    import links.sparkSession.implicits._
    val urls = links.select(col("se_link")).as[String]
    val fetched: Dataset[RawContent] = urls.mapPartitions { it =>
      val f = fetcher // one per partition
      it.map { url =>
        f.fetchHtml(url) match {
          case Left(err) =>
            RawContent(url, "", "", Seq.empty, url, "", "", Seq.empty,
              new Timestamp(0L), Some(err))
          case Right(html) =>
            val parsed = MainContent.extract(html)
            // newspaper3k also targets the main article (different
            // algorithm, similar output) — emulate: headline-led main text,
            // space-joined, so the two extractor bodies differ in length
            // and P12's longest-of has real work to do.
            val n3kBody =
              (parsed.title +: parsed.paragraphs).mkString(" ")
            RawContent(
              bs_link = url, bs_title = parsed.title, bs_body = parsed.body,
              bs_paragraph = parsed.paragraphs,
              n3k_link = url, n3k_title = parsed.title, n3k_body = n3kBody,
              n3k_author = Seq("Fixture Author"),
              n3k_published = new Timestamp(1672531200000L), // fixed: 2023-01-01
              error = None)
        }
      }
    }
    if (keepErrors) fetched.toDF else fetched.filter(_.error.isEmpty).toDF.drop("error")
  }
}
