package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.sim.Similarity
import graft.functions.VecExprs

/** The `aggregate(zip_with(...))` higher-order forms of the vector math:
  * interpreted references for the codegen'd `VecExprs`. Both fold
  * sequentially in index order on doubles, so results are bit-identical.
  */
object HofForms {
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, v) => acc + v)
}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal to 0
    (3L, Array(-1.0f, 0.0f, 0.0f))   // opposite of 0
  ).toDF("vec_id", "embedding")

  test("native codegen expressions agree bit-for-bit with HOF forms") {
    val df = Seq(
      (Array(1.5f, -2.25f, 3.125f, 0.001f), Array(0.5f, 4.75f, -1.5f, 2.125f))
    ).toDF("a", "b")
    val r = df.select(
      VecExprs.dot($"a", $"b"), HofForms.dot($"a", $"b"),
      VecExprs.sqDist($"a", $"b"), HofForms.sqDist($"a", $"b")).head
    assert(r.getDouble(0) == r.getDouble(1))
    assert(r.getDouble(2) == r.getDouble(3))
  }

  test("vec_dot / vec_sqdist usable from SQL via GraftExtensions") {
    val r = spark.sql(
      """SELECT vec_dot(array(float(1.0), float(2.0)), array(float(3.0), float(4.0))) AS d,
        |       vec_sqdist(array(float(1.0), float(2.0)), array(float(3.0), float(4.0))) AS s
        |""".stripMargin).head
    assert(r.getDouble(0) == 11.0 && r.getDouble(1) == 8.0)
  }

  test("VecExprs dot/norm/cosine exact on unit vectors") {
    val df = Seq((Array(1.0f, 0f, 0f), Array(0f, 1.0f, 0f))).toDF("a", "b")
    assert(df.select(VecExprs.dot($"a", $"b")).head.getDouble(0) == 0.0)
    assert(df.select(VecExprs.norm($"a")).head.getDouble(0) == 1.0)
    val same = Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f))).toDF("a", "b")
    assert(math.abs(same.select(VecExprs.cosine($"a", $"b")).head.getDouble(0) - 1.0) < 1e-12)
    assert(same.select(VecExprs.norm($"a")).head.getDouble(0) == 5.0)
  }

  test("bruteForceTopK ranks the near vector first, opposite last") {
    val got = Similarity.bruteForceTopK(
        vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 3)
      .orderBy($"rk").collect.map(_.getAs[Long]("neighbor_id"))
    assert(got.toSeq == Seq(1L, 2L, 3L))
  }

  test("ivfTopK: high recall vs brute force on blobby data, cheaper probe set") {
    // 4 well-separated blobs of 25 points each in 8-d
    val blobs = for {
      b <- 0 until 4; i <- 0 until 25
    } yield {
      val base = Array.fill(8)(0.0f)
      base(b * 2) = 10.0f
      ((b * 25 + i).toLong,
        base.zipWithIndex.map { case (v, d) => v + ((i * 7 + d * 3) % 5) * 0.1f })
    }
    val corpus = blobs.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" % 25 === 0) // one per blob
    val exact = Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", 5)
      .collect.map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 2)
      .collect.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall")

    // totalRows hint path (r21): the quantizer fit runs on a deterministic
    // md5-sample sized from the hint instead of a corpus.count() pre-scan;
    // the probe/top-k dataflow and recall contract are unchanged.
    val sampled = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 2, fitSampleRows = 50,
        totalRows = Some(corpus.count()))
      .collect.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(sampled.size == exact.size, "hint path must return k rows per query")
    val recallSampled = exact.intersect(sampled).size.toDouble / exact.size
    assert(recallSampled >= 0.6, s"sampled-fit recall $recallSampled")

    // no-hint guard (r22): with totalRows absent the fit-sample safeguard
    // must STILL engage (via an internal corpus.count()) — a hint-less
    // caller must never fit KMeans on a corpus larger than fitSampleRows.
    // Same (k, seed, fitSampleRows) as the hinted call above, so the
    // deterministic md5-sample — hence the quantizer, hence the results —
    // must be identical.
    val unhinted = Similarity.ivfTopK(queries, corpus, "vec_id", "embedding",
        k = 5, nlist = 4, nprobe = 2, fitSampleRows = 50)
      .collect.map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(unhinted == sampled,
      "no-hint path must produce the hinted sampled-fit results")
  }

  test("ivfTopK: the quantizer does not depend on the corpus partitioning") {
    val corpus = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(8)(d => ((i * 31 + d * 17) % 23 - 11).toFloat))
    }.toDF("vec_id", "embedding")
    def topk(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(c.filter($"vec_id" < 10), c, "vec_id", "embedding",
          k = 5, nlist = 8, nprobe = 2)
        .collect.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(topk(corpus.coalesce(1)) == topk(corpus.repartition(7)))
  }

  test("str_hamming counts byte mismatches plus length difference") {
    val df = Seq(("0101", "0011"), ("111", "111"), ("10", "1011")).toDF("a", "b")
    val got = df.select(VecExprs.hamming($"a", $"b"))
      .collect.map(_.getInt(0)).toSeq
    assert(got == Seq(2, 0, 2))
    assert(spark.sql("SELECT str_hamming('abc', 'abd')").head.getInt(0) == 1)
  }

  test("signBucket groups by sign pattern; bucketed pairs stay in-bucket") {
    val pairs = Similarity.bucketedPairs(vecs, "vec_id", "embedding", 3)
      .collect.map(r => (r.getLong(0), r.getLong(1))).toSet
    // 0,1,2 share bucket "111" (all coords >= 0); 3 is alone in "011"
    assert(pairs == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }
}
