package graft.queries

import java.time.{ZoneId, ZoneOffset}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import graft.Tables
import graft.util.Exact

/** Event-time windowed aggregation over the at-rest events table, in
  * batch: the reference has no streaming operators (SURVEY.md §2.9), and a
  * Structured Streaming query over the same data has the same semantics.
  *
  * events.ts arrives in one of two parquet vintages, handled adaptively by
  * [[tsMicros]]: TIMESTAMP(NANOS) read as a nanos long
  * (spark.sql.legacy.parquet.nanosAsLong) needs an exact integer
  * nanos→micros conversion; TIMESTAMP(MICROS, isAdjustedToUTC=false) reads
  * as TIMESTAMP_NTZ and only needs a cast to session-UTC timestamp (the
  * identical micros value DuckDB's epoch_ns(ts) // 1000 produces).
  */
object EventQueries {

  /** events.ts as a session-UTC TIMESTAMP at exact micros precision,
    * whichever parquet vintage the table carries (see object docs). An
    * instant-typed ts (TIMESTAMP, isAdjustedToUTC=true) passes through.
    */
  private[graft] def tsMicros(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case LongType => timestamp_micros(expr("ts div 1000"))
      case TimestampType => col("ts")
      case TimestampNTZType =>
        // NTZ wall-clock → instant is interpreted in the SESSION time zone;
        // parity with the oracle's epoch_ns(ts) // 1000 holds only when that
        // zone is UTC under any spelling ("UTC", "Etc/UTC", "+00:00"). Assert
        // loudly instead of silently shifting instants for a non-UTC caller.
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        require(ZoneId.of(tz).normalized == ZoneOffset.UTC,
          "events.ts is TIMESTAMP_NTZ: tsMicros requires a UTC " +
            s"spark.sql.session.timeZone to match the oracle's micros, got $tz")
        col("ts").cast("timestamp")
      case other =>
        throw new IllegalArgumentException(s"events.ts has unsupported type $other")
    }

  /** q34: tumbling 1-hour event-time windows × event_type, with exact
    * decimal value sums (order-independent — see graft.util.Exact).
    */
  def q34EventWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    ev.withColumn("tsm", tsMicros(ev))
      .groupBy(window($"tsm", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n_events"), Exact.dsum($"value").as("sum_value"))
      .select((unix_micros($"w.start") * 1000).as("window_ns"),
        $"event_type", $"n_events", $"sum_value")
      .orderBy($"window_ns", $"event_type")
  }

  val q34Sql: String =
    """SELECT
      |  epoch_us(time_bucket(INTERVAL '1 hour', make_timestamp(epoch_ns(ts) // 1000))) * 1000 AS window_ns,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY window_ns, event_type""".stripMargin

  /** q35: per-user session windows (30-minute inactivity gap) — Spark's
    * session_window in batch; the oracle derives the same sessions with
    * gaps-and-islands SQL (lag → new-session flag → running sum).
    */
  def q35SessionWindows(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables(spark, dir, "events")
    ev.withColumn("tsm", tsMicros(ev))
      .groupBy($"user_id", session_window($"tsm", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), Exact.dsum($"value").as("sum_value"))
      .select($"user_id",
        (unix_micros($"w.start") * 1000).as("session_start_ns"),
        $"n_events", $"sum_value")
      .orderBy($"user_id", $"session_start_ns")
  }

  val q35Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_ns(ts) // 1000 AS tsu, value FROM events
      |), flagged AS (
      |  SELECT user_id, tsu, value,
      |    CASE WHEN tsu - LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu)
      |              >= 30 * 60 * 1000000 OR
      |              LAG(tsu) OVER (PARTITION BY user_id ORDER BY tsu) IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM e
      |), numbered AS (
      |  SELECT user_id, tsu, value,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY tsu
      |      ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM flagged)
      |SELECT user_id, MIN(tsu) * 1000 AS session_start_ns,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM numbered GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_ns""".stripMargin
}
