package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.types.LongType
import graft.queries.SimQueries

class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** A session on the shared context with its own parquet conf. */
  private def sessionWith(nanosAsLong: Boolean): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", nanosAsLong.toString)
    s
  }

  test("footer schema and row count equal the inferring reader's on every fixture table") {
    for (nanosAsLong <- Seq(true, false); dir <- Seq(fixtureDir("sf0.001"), fixtureDir("sf0.1"));
         name <- Tables.names) {
      val s = sessionWith(nanosAsLong)
      val expected = s.read.parquet(s"$dir/$name.parquet")
      assert(Tables(s, dir, name).schema == expected.schema, s"$dir/$name nanosAsLong=$nanosAsLong")
      if (!nanosAsLong) assert(Tables.rowCount(s, dir, name) == expected.count(), s"$dir/$name")
    }
  }

  test("TIMESTAMP(NANOS) resolves under the caller session's nanosAsLong") {
    val file = s"${Files.createTempDirectory("graft-nanos")}/events.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); }")
    val w = ExampleParquetWriter.builder(new Path(file)).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1704164645123456789L))
    finally w.close()
    val asLong = sessionWith(nanosAsLong = true)
    assert(Tables.read(asLong, file).schema == asLong.read.parquet(file).schema)
    assert(Tables.read(asLong, file).schema("ts").dataType == LongType)
    assert(Tables.read(asLong, file).head.getLong(0) == 1704164645123456789L)
    val strict = sessionWith(nanosAsLong = false)
    val inferred = intercept[AnalysisException](strict.read.parquet(file))
    assert(intercept[AnalysisException](Tables.read(strict, file)).getCondition ==
      inferred.getCondition)
  }

  test("multi-part directory with _SUCCESS, zero-row write, missing path, no data files") {
    val dir = Files.createTempDirectory("graft-tables").toString
    val parts = s"$dir/parts.parquet"
    (0 until 100).map(i => (i.toLong, s"row $i")).toDF("id", "text")
      .repartition(3).write.parquet(parts)
    assert(new java.io.File(s"$parts/_SUCCESS").exists)
    assert(Tables.read(spark, parts).schema == spark.read.parquet(parts).schema)
    assert(Tables.read(spark, parts).count() == 100)
    assert(Tables.rowCount(spark, dir, "parts") == 100)

    val empty = s"$dir/empty.parquet"
    spark.range(0).selectExpr("id", "cast(id AS string) AS s").write.parquet(empty)
    assert(Tables.read(spark, empty).schema == spark.read.parquet(empty).schema)
    assert(Tables.rowCount(spark, dir, "empty") == 0)

    val missing = s"$dir/missing.parquet"
    val inferred = intercept[AnalysisException](spark.read.parquet(missing))
    val footer = intercept[AnalysisException](Tables.read(spark, missing))
    assert(footer.getCondition == inferred.getCondition)
    assert(footer.getMessage == inferred.getMessage)

    val noData = Files.createDirectories(java.nio.file.Paths.get(s"$dir/nodata.parquet"))
    Files.createFile(noData.resolve("_SUCCESS"))
    assert(intercept[AnalysisException](Tables.read(spark, noData.toString)).getCondition ==
      intercept[AnalysisException](spark.read.parquet(noData.toString)).getCondition)
  }

  test("opening tables submits no job; building q41 at most two") {
    val dir = fixtureDir("sf0.001")
    assert(jobsDuring(Tables(spark, dir, "lineitem")) == 0)
    assert(jobsDuring(Tables.balanced(spark, dir, "documents")) == 0)
    assert(jobsDuring(Tables.rowCount(spark, dir, "embeddings")) == 0)
    assert(jobsDuring(SimQueries.q41IvfTopk(spark, dir)) <= 2)
  }
}
