package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** `spark.read.parquet` without the schema-inference job.
  *
  * Spark infers a parquet schema by running a job (`mergeSchemasInParallel`)
  * even when the path is one file, so every table read pays a job before
  * its query plans. When the path names a single existing parquet file,
  * this reads that file's footer on the driver instead and converts it
  * with Spark's own code (`ParquetFileFormat.readSchemaFromFooter`: the
  * stored Spark row schema first, else `ParquetToSparkSchemaConverter`
  * under the session's `nanosAsLong`, NTZ-inference, `binaryAsString` and
  * int96 confs), then reads with that schema. Any other path — a
  * directory, a hive-partitioned dataset, a glob, a hidden file, a file
  * whose footer does not read — goes to `spark.read.parquet` unchanged and
  * still launches the inference job. Nothing is cached: every call reads
  * its own footer.
  */
object ParquetRead {

  /** `spark.read.parquet(path)`, with a single file's schema from its footer. */
  def apply(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read.parquet(path))(
      spark.read.schema(_).parquet(path))

  /** The schema `spark.read.parquet(path)` infers, from the footer when
    * `path` is a single file (a job otherwise). */
  def schema(spark: SparkSession, path: String): StructType =
    footerSchema(spark, path).fold(spark.read.parquet(path).schema)(Bridge.asNullable)

  /** One file's footer without its row-group metadata, read on the driver
    * with the session's Hadoop conf (a fresh `Configuration` would drop
    * `spark.hadoop.*` settings such as object-store credentials). */
  def footer(spark: SparkSession, file: FileStatus): ParquetMetadata =
    footer(Bridge.hadoopConf(spark), file)

  private def footer(conf: Configuration, file: FileStatus): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)

  /** The footer's schema when `path` is one visible file: no glob
    * characters (Spark's `isGlobPath` set), not a directory, and not a name
    * Spark's file listing skips. None otherwise, and None when the file is
    * missing or its footer does not read, so that Spark reports the error
    * (or skips the file under `ignoreCorruptFiles`). */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val conf = Bridge.hadoopConf(spark)
      val p = new Path(path)
      val file = p.getFileSystem(conf).getFileStatus(p)
      val name = file.getPath.getName
      if (!file.isFile || name.startsWith("_") || name.startsWith(".")) None
      else Some(ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath, footer(conf, file)),
        new ParquetToSparkSchemaConverter(Bridge.sqlConf(spark))))
    } catch { case NonFatal(_) => None }
}
