package graft

import java.nio.file.Files
import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.sources.ParquetRead

/** [[ParquetRead]]: a single file's schema from its footer equals the one
  * Spark infers, building the read launches no job, and every other path
  * keeps Spark's inference. Fixtures are written to temp dirs. */
class ParquetReadSpec extends SparkSpec {

  private def withTempDir(body: String => Unit): Unit = {
    val d = Files.createTempDirectory("graft_parquet_read").toFile
    try body(d.getPath) finally FileUtils.deleteQuietly(d)
  }

  private def partFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath)
      .filter(p => p.endsWith(".parquet") && new java.io.File(p).getName.startsWith("part-"))
      .sorted.toSeq

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The footer path: same schema as inference, no job to build, same rows. */
  private def assertFooterRead(path: String, rows: Boolean = true): Unit = {
    val inferred = spark.read.parquet(path)
    val (df, jobs) = jobsStarted(ParquetRead(spark, path))
    assert(jobs == 0, s"$path: building the read launched $jobs job(s)")
    assert(df.schema == inferred.schema, path)
    assert(ParquetRead.schema(spark, path) == inferred.schema, path)
    if (rows) assert(sortedRows(df) == sortedRows(inferred), path)
  }

  /** The fallback path: Spark's inference job runs, result unchanged. */
  private def assertInferred(path: String): Unit = {
    val inferred = spark.read.parquet(path)
    val (df, jobs) = jobsStarted(ParquetRead(spark, path))
    assert(jobs > 0, s"$path: expected Spark's schema-inference job")
    assert(df.schema == inferred.schema, path)
    assert(sortedRows(df) == sortedRows(inferred), path)
  }

  /** A path Spark cannot read fails the same way through [[ParquetRead]]. */
  private def assertSameFailure(path: String): Unit = {
    val want = intercept[Exception](spark.read.parquet(path))
    val got = intercept[Exception](ParquetRead(spark, path))
    assert(got.getClass == want.getClass && got.getMessage == want.getMessage)
  }

  private def writeExample(path: String, schema: MessageType)(
      fill: SimpleGroupFactory => Seq[org.apache.parquet.example.data.Group]): Unit = {
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new Path(path)).withConf(conf).build()
    try fill(new SimpleGroupFactory(schema)).foreach(w.write) finally w.close()
  }

  test("footer schema equals Spark's inferred schema on every testdata table") {
    val tables = for {
      sf <- Seq("sf0.001", "sf0.01", "sf0.1")
      f <- new java.io.File(s"/root/testdata/$sf").listFiles()
      if f.getName.endsWith(".parquet") && f.isFile
    } yield f.getPath
    assert(tables.size == 30)
    tables.foreach { p =>
      val (df, jobs) = jobsStarted(ParquetRead(spark, p))
      assert(jobs == 0, p)
      assert(df.schema == spark.read.parquet(p).schema, p)
    }
  }

  test("char/varchar, NTZ, timestamp, nested and decimal columns of a Spark-written file") {
    withTempDir { d =>
      val table = "graft_parquet_read_types"
      spark.sql(s"""CREATE TABLE $table (c CHAR(5), v VARCHAR(10),
        ntz TIMESTAMP_NTZ, ts TIMESTAMP,
        st STRUCT<a: INT, b: ARRAY<STRING>>, m MAP<STRING, DOUBLE>,
        dec DECIMAL(12, 3)) USING parquet LOCATION '$d/t'""")
      try {
        spark.sql(s"""INSERT INTO $table SELECT 'ab', 'xyz',
          TIMESTAMP_NTZ'2020-01-02 03:04:05', TIMESTAMP'2020-01-02 03:04:05',
          named_struct('a', 1, 'b', array('x', null)), map('k', 1.5D),
          12.345BD""")
        val files = partFiles(s"$d/t")
        assert(files.nonEmpty)
        files.foreach(assertFooterRead(_))
        val names = ParquetRead(spark, files.head).schema.fieldNames.toSeq
        assert(names == Seq("c", "v", "ntz", "ts", "st", "m", "dec"))
      } finally spark.sql(s"DROP TABLE $table")
    }
  }

  test("a TIMESTAMP(NANOS) file reads as long under nanosAsLong") {
    withTempDir { d =>
      val p = s"$d/nanos.parquet"
      val schema = Types.buildMessage()
        .required(PrimitiveTypeName.INT64).named("id")
        .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS)).named("ts")
        .named("nanos")
      writeExample(p, schema) { gf =>
        (0 until 5).map(i => gf.newGroup().append("id", i.toLong)
          .append("ts", 1700000000123456789L + i))
      }
      assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assertFooterRead(p)
      assert(ParquetRead.schema(spark, p)("ts").dataType == LongType)
    }
  }

  test("a float16 file fails schema inference as spark.read.parquet does") {
    withTempDir { d =>
      val p = s"$d/f16.parquet"
      val schema = Types.buildMessage()
        .required(PrimitiveTypeName.INT64).named("id")
        .required(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY).length(2)
        .as(LogicalTypeAnnotation.float16Type()).named("h")
        .named("f16")
      writeExample(p, schema) { gf =>
        Seq(gf.newGroup().append("id", 0L)
          .append("h", Binary.fromConstantByteArray(Array[Byte](0, 0x3C))))
      }
      assertSameFailure(p)
      assert(intercept[Exception](ParquetRead.schema(spark, p)).getMessage
        .contains("PARQUET_TYPE_ILLEGAL"))
    }
  }

  test("a multi-row-group file reads the same rows either way") {
    withTempDir { d =>
      spark.range(0, 20000).select(col("id"), (col("id") % 97).as("k"),
          concat(lit("row-"), col("id").cast("string")).as("s"))
        .coalesce(1).write.option("parquet.block.size", "16384").parquet(s"$d/t")
      val Seq(p) = partFiles(s"$d/t")
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(p), new Configuration()))
      val groups = try reader.getRowGroups.size finally reader.close()
      assert(groups > 1, s"fixture has $groups row group(s)")
      assertFooterRead(p)
    }
  }

  test("a directory, a hive-partitioned directory and a glob keep Spark's inference") {
    withTempDir { d =>
      val src = spark.range(0, 300).select(col("id"), (col("id") % 3).as("k"),
        col("id").cast("string").as("s"))
      src.repartition(3).write.parquet(s"$d/plain")
      src.write.partitionBy("k").parquet(s"$d/hive")
      assertInferred(s"$d/plain")
      assertInferred(s"$d/hive")
      assert(ParquetRead(spark, s"$d/hive").schema.fieldNames.contains("k"))
      assertInferred(s"$d/plain/part-*.parquet")
    }
  }

  test("a missing path fails as spark.read.parquet does") {
    withTempDir(d => assertSameFailure(s"$d/absent.parquet"))
  }

  test("the streaming schema probe takes a single file's schema with no job") {
    val p = "/root/testdata/sf0.01/events.parquet"
    val (schema, jobs) = jobsStarted(ParquetRead.schema(spark, p))
    assert(jobs == 0)
    assert(schema == spark.read.parquet(p).schema)
  }
}
