package graft

import java.nio.file.Files
import java.time.{Instant, LocalDateTime}
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.queries.EventQueries

class EventQueriesSpec extends SparkSpec {

  private val micros = 1704164645123456L // 2024-01-02T03:04:05.123456Z

  private def sessionIn(tz: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", tz)
    s
  }

  private def tsMicros(df: DataFrame): Long =
    df.select(unix_micros(EventQueries.tsMicros(df))).head.getLong(0)

  test("tsMicros: nanos long vintage converts exactly") {
    val s = sessionIn("UTC")
    import s.implicits._
    assert(tsMicros(Seq(micros * 1000 + 789).toDF("ts")) == micros)
  }

  test("tsMicros: an instant TIMESTAMP passes through unchanged in any zone") {
    val s = sessionIn("America/New_York")
    import s.implicits._
    val df = Seq(Instant.parse("2024-01-02T03:04:05.123456Z")).toDF("ts")
    assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(tsMicros(df) == micros)
  }

  test("tsMicros: TIMESTAMP_NTZ accepted under every spelling of UTC, refused elsewhere") {
    for (tz <- Seq("UTC", "Etc/UTC", "+00:00")) {
      val s = sessionIn(tz)
      import s.implicits._
      val df = Seq(LocalDateTime.parse("2024-01-02T03:04:05.123456")).toDF("ts")
      assert(df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      assert(tsMicros(df) == micros, tz)
    }
    val s = sessionIn("America/New_York")
    import s.implicits._
    val df = Seq(LocalDateTime.parse("2024-01-02T03:04:05.123456")).toDF("ts")
    intercept[IllegalArgumentException](EventQueries.tsMicros(df))
  }

  test("q34 and q35 return the UTC rows in an Asia/Kolkata session (nanos vintage)") {
    // sf0.001 ships ts as TIMESTAMP_NTZ, which a non-UTC session refuses;
    // a TIMESTAMP(NANOS) copy of its events takes the nanos-long path.
    // +05:30 is not hour-aligned, so zone-shifted windows would show.
    val fixture = fixtureDir("sf0.001")
    val kolkata = sessionIn("Asia/Kolkata")
    intercept[IllegalArgumentException](EventQueries.q34EventWindows(kolkata, fixture))
    val ev = Tables(spark, fixture, "events")
    val rows = ev.select(unix_micros(EventQueries.tsMicros(ev)), col("user_id"),
      col("event_type"), col("value")).collect()
    val dir = Files.createTempDirectory("graft-events-nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events { required int64 ts (TIMESTAMP(NANOS,false)); required int64 user_id;
        |  required binary event_type (STRING); required double value; }""".stripMargin)
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet")).withType(schema).build()
    try rows.foreach(r => w.write(groups.newGroup().append("ts", r.getLong(0) * 1000)
      .append("user_id", r.getLong(1)).append("event_type", r.getString(2))
      .append("value", r.getDouble(3))))
    finally w.close()
    assert(Tables(kolkata, dir, "events").schema("ts").dataType == LongType)
    for (q <- Seq(EventQueries.q34EventWindows _, EventQueries.q35SessionWindows _)) {
      val utc = q(spark, fixture).collect().toSeq
      assert(utc.nonEmpty && q(kolkata, dir).collect().toSeq == utc)
    }
  }
}
