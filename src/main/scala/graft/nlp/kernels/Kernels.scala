package graft.nlp.kernels

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.{HashingTF, IDF}
import org.apache.spark.ml.linalg.{Vector => MlVector}
import graft.nlp.text.Text

// Deterministic local kernels (SURVEY.md §2.10 B1–B5, §7.3). The
// reference's kernels are pretrained HF models; with no model weights to
// load, each is a deterministic local implementation that reproduces the
// DATAFLOW semantics (input cols → output cols, grain).

/** TF-IDF document vectors via MLlib HashingTF+IDF (reference B1/B2:
  * BERT/MiniLM mean-pooled vectors — word_wizard.py:150-231). Deterministic
  * (hashing is seedless murmur3; IDF is a closed-form fit), distributed
  * (one fit pass + one transform pass, no driver data), and dimension-
  * configurable like the reference's 384/768/1024.
  */
final class TfIdfEmbedder(dim: Int = 64) {
  /** Add `outCol: array<float>` derived from `textCol`. */
  def embed(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val tmpToks = outCol + "_toks"
    val tmpTf = outCol + "_tf"
    val withToks = df.withColumn(tmpToks, Text.tokens(col(textCol)))
    val tf = new HashingTF().setInputCol(tmpToks).setOutputCol(tmpTf)
      .setNumFeatures(dim).transform(withToks)
    val idfModel = new IDF().setInputCol(tmpTf).setOutputCol(outCol + "_vec").fit(tf)
    val toArr = udf((v: MlVector) => v.toArray.map(_.toFloat))
    idfModel.transform(tf)
      .withColumn(outCol, toArr(col(outCol + "_vec")))
      .drop(tmpToks, tmpTf, outCol + "_vec")
  }
}

/** B5: extractive lead-k summarizer (reference: BART/Pegasus generation —
  * word_wizard.py:298-361). Pure Column expression: first `k` sentences.
  */
object LeadKSummarizer {
  def summarize(textCol: Column, k: Int = 2): Column =
    array_join(slice(Text.sentences(textCol), 1, k), " ")
}
