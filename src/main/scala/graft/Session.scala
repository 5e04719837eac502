package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft session is configured: every entry point
  * (Bench, Verify, PlanReport, `pipeline.Cli`) and the specs build theirs
  * here, so the driver contract and the dev tools run with one set of
  * settings.
  */
object Session {

  /** A local session on `cpus` cores (default `SPARK_GRAFT_CPUS`, else 32)
    * with one shuffle partition per core, the UI off, UTC session time,
    * AQE on and the graft SQL functions registered.
    */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS) which Spark has no type for;
      // read it as an exact nanos-since-epoch long (oracle: epoch_ns(ts)).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
