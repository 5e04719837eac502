package graft.wizard

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.nlp.text.Text

/** Sentiment with the reference's compute-once-per-distinct-text dataflow
  * (word_wizard.py:363-428, operator A10/B4).
  *
  * The reference scores only the first occurrence of each distinct text and
  * positionally fills duplicates; the intended semantics is a value join —
  * `distinct → score → join back` — which is what we build. This is the plan
  * shape Catalyst will NOT invent on its own (SURVEY.md §4.2), and at scale
  * it is the difference between scoring 100 TB of rows and scoring only the
  * distinct texts.
  *
  * Kernel: a deterministic lexicon scorer ([[lexiconClass]]).
  */
object Sentiment {

  /** Word lists for the deterministic lexicon kernel. Class encoding follows
    * the reference's lean model: 0=negative, 1=neutral, 2=positive.
    */
  val positive: Seq[String] = Seq("fast", "big", "good", "new")
  val negative: Seq[String] = Seq("slow", "small", "error", "crash")

  /** Lexicon score for a token array: (#pos − #neg) sign → class. */
  def lexiconClass(toks: Column): Column = {
    val pos = size(filter(toks, t => array_contains(array(positive.map(lit): _*), t)))
    val neg = size(filter(toks, t => array_contains(array(negative.map(lit): _*), t)))
    when(pos > neg, 2).when(pos < neg, 0).otherwise(1)
  }

  /** distinct → score → join back. The join key is md5(text), not the
    * text itself: the scored dimension then carries 16-byte keys + a class
    * int instead of full documents, and the corpus-side shuffle (when the
    * dimension outgrows a broadcast) compares fixed-width hashes rather
    * than multi-KB strings. Same value-join semantics (md5 collisions at
    * 2⁻¹²⁸ are far below any float-noise tolerance elsewhere).
    *
    * The scored side is deduplicated on the key itself, one text per key,
    * so each distinct text is still scored once and Catalyst knows the key
    * is unique there: a consumer that does not read `outCol` drops the
    * whole join (outer-join elimination).
    */
  def score(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val scored = df.select(md5(col(textCol)).as("__text_md5"), col(textCol))
      .dropDuplicates("__text_md5")
      .select(col("__text_md5"), lexiconClass(Text.tokens(col(textCol))).as(outCol))
    df.withColumn("__text_md5", md5(col(textCol)))
      .join(scored, Seq("__text_md5"), "left")
      .drop("__text_md5")
  }
}
