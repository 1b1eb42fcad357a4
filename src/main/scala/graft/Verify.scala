package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Verify's own confs on top of [[GraftSession]]'s: INT64-micros
    * timestamps in the dump. Spark's internal timestamps ARE microseconds,
    * and the INT96 default reads back as timestamp[ns] in arrow while
    * DuckDB emits timestamp[us] — a cross-engine output-TYPE skew of
    * exactly the class that hash-failed win_rolling_by_value in r7
    * (tools/check.py now gates on it). */
  private[graft] val extraConf: Seq[(String, String)] =
    Seq("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: names after sfDir/outDir restrict the dump (local debugging)
    val only = args.drop(2).toSet
    val spark = GraftSession.build(GraftSession.cpus(4), extraConf: _*)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        // Dump timestamps as NTZ: the session runs UTC, so the cast is the
        // identity on wall-clock values, but Spark's tz-aware TIMESTAMP
        // annotates the parquet as adjusted-to-UTC → arrow
        // timestamp[us, tz=UTC], while the DuckDB oracle emits naive
        // timestamp[us]. The driver hashes raw values, and tz-aware vs
        // naive datetimes are unequal in Python — a silent hash-fail class.
        // The rewrite recurses into array/struct/map so a timestamp nested
        // inside a container cannot reintroduce the skew.
        import org.apache.spark.sql.types._
        def ntz(dt: DataType): DataType = dt match {
          case TimestampType      => TimestampNTZType
          case ArrayType(e, n)    => ArrayType(ntz(e), n)
          case MapType(k, v, n)   => MapType(ntz(k), ntz(v), n)
          case StructType(fs)     =>
            StructType(fs.map(f => f.copy(dataType = ntz(f.dataType))))
          case other              => other
        }
        val dumped = out.schema.fields.foldLeft(out) { (d, f) =>
          val t2 = ntz(f.dataType)
          if (t2 == f.dataType) d
          else d.withColumn(f.name,
            org.apache.spark.sql.functions.col(f.name).cast(t2))
        }
        dumped.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
