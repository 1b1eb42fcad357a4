package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.functions._
import graft.sources.Float16Parquet

/** Float16 contract (reference dtype.rs:102 — widen to Float32 on ingest):
  * bit-level decode/encode against the IEEE 754 binary16 spec, and the
  * parquet FLOAT16 scan/sink path over files with REAL half columns. */
class Float16Spec extends SparkSpec {

  /** Write raw half bit patterns as a genuine FLOAT16 parquet file. */
  private def writeRawHalves(dir: String, halves: Seq[Int]): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val schema: MessageType = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("id")
      .required(PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY).length(2)
      .as(LogicalTypeAnnotation.float16Type()).named("h")
      .named("probe")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/f16.parquet"))
      .withConf(conf).build()
    val gf = new SimpleGroupFactory(schema)
    halves.zipWithIndex.foreach { case (bits, i) =>
      w.write(gf.newGroup().append("id", i.toLong).append("h",
        Binary.fromConstantByteArray(
          Array[Byte]((bits & 0xFF).toByte, ((bits >> 8) & 0xFF).toByte))))
    }
    w.close()
  }

  // every interesting region of the binary16 space
  private val boundaryBits = Seq(
    0x0000, 0x8000,         // ±0
    0x0001, 0x8001,         // ±min subnormal (5.96e-8)
    0x03FF,                 // max subnormal
    0x0400,                 // min normal (6.104e-5)
    0x3555,                 // ~1/3 (inexact value)
    0x3C00, 0xBC00,         // ±1
    0x7BFF, 0xFBFF,         // ±65504 (max finite)
    0x7C00, 0xFC00,         // ±Inf
    0x7E00)                 // NaN

  test("Spark's native parquet reader rejects FLOAT16 — the carrier path exists for a reason") {
    val dir = "/tmp/graft_f16_spec_reject"
    writeRawHalves(dir, Seq(0x3C00))
    val e = intercept[Exception] {
      spark.read.parquet(s"$dir/f16.parquet").collect()
    }
    assert(e.getMessage.contains("PARQUET_TYPE_ILLEGAL"), e.getMessage)
  }

  test("scan widens every binary16 region to the exact float (incl. subnormals, Inf, NaN)") {
    val dir = "/tmp/graft_f16_spec_bits"
    writeRawHalves(dir, boundaryBits)
    val got = Float16Parquet.scan(spark, dir)
      .orderBy("id").select("h").collect().map(_.getFloat(0))
    val want = boundaryBits.map(Float16Parquet.halfBitsToFloat)
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      val bits = boundaryBits(i)
      if (w.isNaN) assert(g.isNaN, f"bits=0x$bits%04X: got $g want NaN")
      else assert(g == w, f"bits=0x$bits%04X: got $g want $w")
    }
    // spot-check absolute values against the spec, not just the JVM decode
    assert(Float16Parquet.halfBitsToFloat(0x0001) == 5.9604644775390625e-8f)
    assert(Float16Parquet.halfBitsToFloat(0x0400) == 6.103515625e-5f)
    assert(Float16Parquet.halfBitsToFloat(0x7BFF) == 65504.0f)
  }

  test("scan takes a file: URI and reads the same rows as the plain path") {
    val dir = "/tmp/graft_f16_spec_uri"
    writeRawHalves(dir, boundaryBits)
    val uri = new java.io.File(dir).toURI.toString
    assert(uri.startsWith("file:"))
    def rows(p: String) = Float16Parquet.scan(spark, p).orderBy("id").collect().toSeq
    assert(rows(uri) == rows(dir))
  }

  test("encode/decode round-trips ALL finite halves; round-to-nearest-even at halfway points") {
    // exhaustive: every finite half bit pattern survives decode→encode
    var bits = 0
    while (bits <= 0xFFFF) {
      val e = (bits >>> 10) & 0x1F
      if (e != 31) { // finite
        val back = Float16Parquet.floatToHalfBits(Float16Parquet.halfBitsToFloat(bits))
        assert(back == bits, f"0x$bits%04X -> 0x$back%04X")
      }
      bits += 1
    }
    // halfway between 1.0 (0x3C00) and 1.0+2^-10 (0x3C01) → ties to even (0x3C00)
    assert(Float16Parquet.floatToHalfBits(1.0f + math.pow(2, -11).toFloat) == 0x3C00)
    // halfway between 0x3C01 and 0x3C02 → ties to even (0x3C02)
    assert(Float16Parquet.floatToHalfBits(
      1.0f + math.pow(2, -10).toFloat + math.pow(2, -11).toFloat) == 0x3C02)
    // overflow → Inf; tiny → ±0; NaN → NaN
    assert(Float16Parquet.floatToHalfBits(1e6f) == 0x7C00)
    assert(Float16Parquet.floatToHalfBits(-1e6f) == 0xFC00)
    assert(Float16Parquet.floatToHalfBits(1e-9f) == 0x0000)
    assert(Float16Parquet.floatToHalfBits(-1e-9f) == 0x8000)
    assert((Float16Parquet.floatToHalfBits(Float.NaN) & 0x7C00) == 0x7C00)
  }

  test("sink+scan round-trip is distributed and exact for representable values") {
    val dir = "/tmp/graft_f16_spec_roundtrip"
    import spark.implicits._
    val src = spark.range(0, 1000).select(col("id"),
      ((col("id") % 512) * 0.25 - 64).cast("float").as("h"),
      col("id").cast("double").as("d"))
      .repartition(4)
    Float16Parquet.sink(src, dir, Set("h"))
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet")) == 4,
      "one file per partition — the sink must write executor-side")
    val got = Float16Parquet.scan(spark, dir)
      .select("id", "h", "d").as[(Long, Float, Double)].collect().toMap2
    (0L until 1000L).foreach { i =>
      val (h, d) = got(i)
      assert(h == ((i % 512) * 0.25 - 64).toFloat && d == i.toDouble, s"id=$i")
    }
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }
}
