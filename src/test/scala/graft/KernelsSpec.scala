package graft

import org.apache.spark.sql.functions._
import graft.nlp.kernels.{LeadKSummarizer, TfIdfEmbedder}

class KernelsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "spark shuffle executor"), (1L, "spark shuffle executor"),
    (2L, "butter flour sugar oven"), (3L, "")
  ).toDF("id", "text")

  test("TfIdfEmbedder produces fixed-dim float vectors") {
    val out = new TfIdfEmbedder(16).embed(docs, "text", "emb")
    assert(out.select(size($"emb")).distinct().head.getInt(0) == 16)
  }

  test("LeadKSummarizer takes the first k sentences") {
    val got = Seq("One here. Two now. Three末. Four.").toDF("t")
      .select(LeadKSummarizer.summarize($"t", 2)).head.getString(0)
    assert(got == "One here. Two now.")
  }
}
