package graft

import java.time.{Instant, LocalDateTime}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
}
