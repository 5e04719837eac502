package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every query receives the scale-factor directory at call time, so the same
  * logical plan runs unchanged from sf0.001 smoke to a 100 TB lake — only the
  * path (and the files' partition count) changes. Reads are plain parquet
  * scans: Catalyst handles column pruning + predicate pushdown, so callers
  * should express filters/projections declaratively and never pre-collect.
  *
  * Opening a table submits no Spark job: the schema comes from a parquet
  * footer read on the driver (see [[read]]). The footer is read again on
  * every call, with no cache across calls, so a table rewritten in place
  * (a pipeline zone, a regenerated scale factor) opens with its new
  * schema, and repeated opens keep paying their real cost.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** An unpartitioned parquet table (a file, or a directory of part files).
    * With `mergeSchema` off, Spark infers the schema in a one-task job from
    * the first data file in path order, skipping `_`/`.` files. That
    * file's footer is converted here on the driver by Spark's own
    * `readSchemaFromFooter` (a stored Spark schema wins, as there) with a
    * converter built from the caller's session conf, so `nanosAsLong` and
    * TIMESTAMP_NTZ inference resolve as the job would resolve them.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val first = dataFiles(spark, path).headOption.getOrElse(
      throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
    val conf = spark.asInstanceOf[classic.SparkSession].sessionState.conf
    val schema = ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, footer(spark, first, ParquetMetadataConverter.SKIP_ROW_GROUPS)),
      new ParquetToSparkSchemaConverter(conf))
    spark.read.schema(schema).parquet(path)
  }

  /** A table's row count, summed over the row groups in every data file's
    * footer on the driver: what a column-less `count()` returns, no job.
    */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    dataFiles(spark, s"$dir/$name.parquet").map(f =>
      footer(spark, f, ParquetMetadataConverter.NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum).sum

  /** Data files in path order; a missing path fails as in `spark.read`. */
  private def dataFiles(spark: SparkSession, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = try fs.getFileStatus(p) catch { case _: java.io.FileNotFoundException =>
      throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> fs.makeQualified(p).toString))
    }
    if (!root.isDirectory) Seq(root)
    else fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString)
  }

  private def footer(spark: SparkSession, f: FileStatus,
                     filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, spark.sparkContext.hadoopConfiguration), filter)

  /** Read a table and spread it across the cluster when the file layout
    * under-parallelizes the scan. A parquet file is splittable only at
    * row-group boundaries, so a single-row-group file (the benchmark
    * fixtures; also common for small dimension snapshots in a lake) scans
    * as ONE task — and every per-row compute downstream (hashing,
    * tokenizing, n-gramming) serializes on one core until the first
    * shuffle. For compute-heavy operators we pay one tiny exchange up
    * front to engage the whole cluster. At scale the guard is a no-op:
    * 100 TB of parquet has orders of magnitude more row groups than
    * cores, so `getNumPartitions >= target` and no shuffle is added.
    * Catalyst still prunes columns and pushes filters through the
    * round-robin exchange.
    */
  def balanced(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = apply(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
