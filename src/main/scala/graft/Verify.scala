package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession("spark.sql.extensions" -> "graft.query.RiemannExtensions")
    new java.io.File(outDir).mkdirs()
    // optional comma-separated subset for local spot-checks (same
    // convention as Bench); the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // the driver's comparator sorts rows via pandas, which cannot
        // hash array/map cells — such a query would silently never be
        // verified (the round-2 failure mode). Flag it loudly here,
        // including complex types nested inside structs/arrays.
        def hasComplex(dt: org.apache.spark.sql.types.DataType): Boolean =
          dt match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.MapType => true
            case s: org.apache.spark.sql.types.StructType =>
              s.fields.exists(f => hasComplex(f.dataType))
            case _ => false
          }
        val complex = df.schema.fields.filter(f => hasComplex(f.dataType))
        if (complex.nonEmpty && SparkEntry.oracleSql.contains(name))
          System.err.println(s"[verify] WARNING: $name outputs " +
            s"${complex.map(_.name).mkString(",")} as array/map — the " +
            "driver comparator cannot hash these; serialize to strings")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // similarity queries cache their normalized corpus; release
      // between queries so 60+ runs don't accumulate pinned blocks
      spark.catalog.clearCache()
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
