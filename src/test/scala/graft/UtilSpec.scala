package graft

import org.apache.spark.sql.functions._
import graft.util.Ids
import graft.functions.VecAgg

class UtilSpec extends SparkSpec {
  import spark.implicits._

  test("prefixSum is stable across input partitioning") {
    val rows = (0 until 500).map(i => (f"key_$i%04d", (i % 11 + 1).toLong))
    val a = Ids.prefixSum(rows.toDF("k", "v").repartition(7), "cum", "v", "k")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val b = Ids.prefixSum(rows.toDF("k", "v").repartition(13), "cum", "v", "k")
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(a == b)
    assert(a.values.toSeq.sorted == rows.map(_._2).scanLeft(0L)(_ + _).tail)
  }

  test("prefixSum equals the single-partition window cumsum") {
    import org.apache.spark.sql.expressions.Window
    val df = (0 until 300).map(i => ((i * 7 % 300).toLong, (i % 13 + 1).toLong))
      .toDF("k", "v").repartition(5)
    val got = Ids.prefixSum(df, "cum", "v", "k")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = df.withColumn("cum",
        sum($"v").over(Window.orderBy($"k").rowsBetween(Window.unboundedPreceding, 0)))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == want)
  }

  test("prefixSum rejects duplicate keys loudly") {
    // ADVICE r03: with non-unique keys a recomputed block could land ties
    // in a different range partition — assert instead of documenting
    val df = Seq("a", "b", "b", "c").map(k => (k, 1L)).toDF("k", "v").repartition(3)
    val e = intercept[IllegalArgumentException] {
      Ids.prefixSum(df, "cum", "v", "k").collect()
    }
    assert(e.getMessage.contains("not unique"))
  }

  test("vecAvg computes the element-wise mean per group") {
    val df = Seq(
      ("a", Seq(1.0, 2.0)), ("a", Seq(3.0, 6.0)), ("b", Seq(10.0, 20.0))
    ).toDF("g", "v")
    val got = df.groupBy($"g").agg(VecAgg.vecAvg($"v").as("c"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got("a") == Seq(2.0, 4.0))
    assert(got("b") == Seq(10.0, 20.0))
  }

  test("vecAvg fails loudly on ragged vector lengths") {
    // ADVICE r03: min(length) truncation was a silently-wrong mean
    val df = Seq(("a", Seq(1.0, 2.0)), ("a", Seq(3.0))).toDF("g", "v")
    val e = intercept[Throwable] {
      df.groupBy($"g").agg(VecAgg.vecAvg($"v").as("c")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("length mismatch")))
  }

  test("vecAvg ignores null vectors; all-null group yields null") {
    val df = Seq(
      ("a", Option(Seq(2.0, 4.0))), ("a", None), ("b", None)
    ).toDF("g", "v")
    val got = df.groupBy($"g").agg(VecAgg.vecAvg($"v").as("c"))
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("a").map(_.asInstanceOf[scala.collection.Seq[Double]].toSeq)
      .contains(Seq(2.0, 4.0)))
    assert(got("b").isEmpty)
  }
}
