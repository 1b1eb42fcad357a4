package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, MessageTypeParser, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Float16 dtype support (reference `crates/polars-core/src/datatypes/
  * dtype.rs:102` — polars Float16 data widens to Float32 on ingest).
  *
  * Spark 4.1 has no half-precision type and its parquet reader REJECTS the
  * FLOAT16 logical type outright (`PARQUET_TYPE_ILLEGAL`, probed in
  * Float16Spec), yet fp16 parquet is common in the wild — embedding dumps
  * ship half floats for size. This module closes the gap Spark-first:
  *
  *   - [[scan]] reads FLOAT16 columns through Spark's NATIVE parquet reader
  *     by supplying a user schema that carries them as 2-byte binary
  *     (splits, column pruning and row-group statistics all stay native),
  *     then widens to FloatType with [[halfToFloat]] — pure built-in
  *     column arithmetic, codegen'd, no UDF.
  *   - [[sink]] writes real FLOAT16 parquet distributed (parquet-java
  *     writer per partition, executor-side; no collect).
  *
  * The bit algorithms are the IEEE 754-2008 binary16 spec; see also the
  * public arrow-rs half-float handling for the same widening contract.
  */
object Float16Parquet {

  /** IEEE 754 binary16 → float, JVM reference (exact: every half value is
    * exactly representable in float). */
  def halfBitsToFloat(h: Int): Float = {
    val s = if ((h & 0x8000) != 0) -1.0 else 1.0
    val e = (h >>> 10) & 0x1F
    val f = h & 0x3FF
    if (e == 0) (s * f * math.pow(2.0, -24)).toFloat
    else if (e == 31) { if (f == 0) (s * Double.PositiveInfinity).toFloat else Float.NaN }
    else (s * (1.0 + f / 1024.0) * math.pow(2.0, e - 15)).toFloat
  }

  /** float → IEEE 754 binary16 bits, round-to-nearest-even (the parquet /
    * arrow encode contract). Overflow → ±Inf, underflow → ±0, NaN → qNaN. */
  def floatToHalfBits(v: Float): Int = {
    val bits = java.lang.Float.floatToRawIntBits(v)
    val sign = (bits >>> 16) & 0x8000
    val e = (bits >>> 23) & 0xFF
    val m = bits & 0x7FFFFF
    if (e == 0xFF) return sign | 0x7C00 | (if (m != 0) 0x200 else 0)
    val he = e - 127 + 15
    if (he >= 0x1F) return sign | 0x7C00
    if (he <= 0) {
      if (he < -10) return sign // below half the min subnormal → ±0
      val mm = m | 0x800000 // implicit leading 1, 24 significant bits
      val shift = 14 - he
      val half = mm >>> shift
      val rem = mm & ((1 << shift) - 1)
      val halfway = 1 << (shift - 1)
      return sign |
        (if (rem > halfway || (rem == halfway && (half & 1) == 1)) half + 1 else half)
    }
    val half = (he << 10) | (m >>> 13)
    val rem = m & 0x1FFF
    // round-to-nearest-even; a carry out of the mantissa rolls into the
    // exponent with the correct value (up to and including overflow → Inf)
    sign | (if (rem > 0x1000 || (rem == 0x1000 && (half & 1) == 1)) half + 1 else half)
  }

  /** Decode a 2-byte little-endian FLOAT16 binary column to FloatType with
    * built-in functions only (hex → integer bits → sign/exp/frac arithmetic)
    * — stays inside whole-stage codegen. */
  def halfToFloat(bin: Column): Column = {
    // hex() renders bytes in storage order; FLOAT16 is little-endian on
    // disk, so byte-swap the 16-bit value
    val be = conv(hex(bin), 16, 10).cast("int")
    val bits = shiftleft(be.bitwiseAND(lit(0xFF)), 8) + shiftright(be, 8)
    val sgn = when(shiftright(bits, 15) === 1, lit(-1.0)).otherwise(lit(1.0))
    val e = shiftright(bits, 10).bitwiseAND(lit(0x1F))
    val f = bits.bitwiseAND(lit(0x3FF))
    val mag = when(e === 0, f * pow(lit(2.0), lit(-24)))
      .when(e === 31,
        when(f === 0, lit(Double.PositiveInfinity)).otherwise(lit(Double.NaN)))
      .otherwise((lit(1.0) + f / 1024.0) * pow(lit(2.0), e - 15))
    (sgn * mag).cast("float")
  }

  private def parquetSchemaOf(schema: StructType, f16Cols: Set[String]): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { fld =>
      val t = fld.dataType match {
        case FloatType if f16Cols(fld.name) =>
          Types.optional(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY).length(2)
            .as(LogicalTypeAnnotation.float16Type())
        case LongType    => Types.optional(PrimitiveTypeName.INT64)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32)
        case DoubleType  => Types.optional(PrimitiveTypeName.DOUBLE)
        case FloatType   => Types.optional(PrimitiveTypeName.FLOAT)
        case StringType  => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case other => throw new IllegalArgumentException(
          s"Float16Parquet.sink: unsupported column type $other for ${fld.name}")
      }
      b.addField(t.named(fld.name))
    }
    b.named("graft_f16")
  }

  /** Write `df` as parquet with the named float columns stored as real
    * FLOAT16 (round-to-nearest-even encode). One file per partition,
    * written executor-side — distributed, no driver collect. */
  def sink(df: DataFrame, path: String, f16Cols: Set[String]): Unit = {
    val schema = df.schema
    require(f16Cols.forall(c => schema.fieldNames.contains(c)),
      s"unknown f16 column(s): ${f16Cols.filterNot(schema.fieldNames.contains)}")
    f16Cols.foreach(c => require(schema(c).dataType == FloatType,
      s"f16 column $c must be FloatType, got ${schema(c).dataType}"))
    val msg = parquetSchemaOf(schema, f16Cols).toString
    // overwrite semantics through the Hadoop FS API, with the SESSION's
    // hadoop configuration — `new Configuration()` would drop credentials
    // set via CloudPaths.configure (fs.s3a.* etc.), breaking the "works
    // for any scheme" contract
    val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
    val serConf = new org.apache.spark.util.SerializableConfiguration(hadoopConf)
    val fsPath = new Path(path)
    val fs = fsPath.getFileSystem(hadoopConf)
    if (fs.exists(fsPath)) fs.delete(fsPath, true)
    fs.mkdirs(fsPath)
    val fields = schema.fields
    val f16Idx = fields.zipWithIndex.collect {
      case (f, i) if f16Cols(f.name) => i
    }.toSet
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.hasNext) {
        val tc = org.apache.spark.TaskContext.get()
        val pid = tc.partitionId()
        val parsed = MessageTypeParser.parseMessageType(msg)
        val conf = new Configuration(serConf.value)
        GroupWriteSupport.setSchema(parsed, conf)
        // Attempt-unique temp file + rename commit: two concurrent
        // attempts of one task (speculation, or a retry racing a zombie)
        // must not write the same destination simultaneously. The rename
        // is the commit — the first attempt to rename wins, the loser
        // deletes its temp. The destination is never deleted here: the
        // driver cleared the directory before the job, so an existing
        // final file is always a complete, identical commit.
        val finalPath = new Path(f"$path/part-$pid%05d.parquet")
        val tmpPath = new Path(f"$path/.part-$pid%05d-attempt-${tc.taskAttemptId()}.parquet.tmp")
        val w = ExampleParquetWriter.builder(tmpPath)
          .withWriteMode(org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE)
          .withConf(conf).build()
        val gf = new SimpleGroupFactory(parsed)
        rows.foreach { row =>
          val g = gf.newGroup()
          var i = 0
          while (i < fields.length) {
            if (!row.isNullAt(i)) {
              val name = fields(i).name
              fields(i).dataType match {
                case FloatType if f16Idx(i) =>
                  val h = floatToHalfBits(row.getFloat(i))
                  g.append(name, Binary.fromConstantByteArray(
                    Array[Byte]((h & 0xFF).toByte, ((h >> 8) & 0xFF).toByte)))
                case LongType    => g.append(name, row.getLong(i))
                case IntegerType => g.append(name, row.getInt(i))
                case DoubleType  => g.append(name, row.getDouble(i))
                case FloatType   => g.append(name, row.getFloat(i))
                case StringType  => g.append(name, row.getString(i))
                case _           => ()
              }
            }
            i += 1
          }
          w.write(g)
        }
        w.close()
        val pfs = finalPath.getFileSystem(conf)
        // commit via rename ONLY — never delete the destination: finalPath
        // can only exist as a COMPLETE file (rename happens after close),
        // and a delete-then-rename window would let a zombie attempt
        // remove the winner's output and die before its own rename. A
        // failed rename with the destination present is a lost race to an
        // identical attempt (drop our tmp); with no destination it is a
        // real error and must fail the task, not silently lose the data.
        if (!pfs.rename(tmpPath, finalPath)) {
          if (pfs.exists(finalPath)) pfs.delete(tmpPath, false)
          else throw new java.io.IOException(
            s"float16 sink commit failed: $tmpPath -> $finalPath")
        }
        ()
      }
    }
  }

  /** Read a parquet directory whose schema may contain FLOAT16 columns:
    * footer-driven (metadata only, driver-side), FLOAT16 carried through
    * Spark's native reader as 2-byte binary, widened to FloatType. Columns
    * keep their file order and names — a FLOAT16 file scans like any other
    * parquet source, matching the reference's widen-on-ingest contract. */
  def scan(spark: SparkSession, path: String): DataFrame = {
    // list and read the footer through the session's Hadoop FileSystem:
    // java.io.File cannot list a `file:` URI (or any other scheme)
    val dir = new Path(path)
    val files = dir.getFileSystem(Bridge.hadoopConf(spark)).listStatus(dir)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    require(files.nonEmpty, s"no parquet files under $path")
    val msg = ParquetRead.footer(spark, files.head).getFileMetaData.getSchema
    import scala.jdk.CollectionConverters._
    val (carrier, f16Names) = {
      val fs = scala.collection.mutable.ArrayBuffer[StructField]()
      val f16 = scala.collection.mutable.Set[String]()
      msg.getFields.asScala.foreach { t =>
        val p = t.asPrimitiveType()
        val dt = p.getPrimitiveTypeName match {
          case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY
            if p.getLogicalTypeAnnotation ==
              LogicalTypeAnnotation.float16Type() =>
            f16 += t.getName; BinaryType
          case PrimitiveTypeName.INT64  => LongType
          case PrimitiveTypeName.INT32  => IntegerType
          case PrimitiveTypeName.DOUBLE => DoubleType
          case PrimitiveTypeName.FLOAT  => FloatType
          case PrimitiveTypeName.BINARY => StringType
          case other => throw new IllegalArgumentException(
            s"Float16Parquet.scan: unsupported primitive $other for ${t.getName}")
        }
        fs += StructField(t.getName, dt)
      }
      (StructType(fs.toSeq), f16.toSet)
    }
    val raw = spark.read.schema(carrier).parquet(path)
    raw.select(carrier.fields.map { f =>
      if (f16Names(f.name)) halfToFloat(col(f.name)).as(f.name) else col(f.name)
    }.toIndexedSeq: _*)
  }
}
