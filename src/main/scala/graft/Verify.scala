package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // extra args = run only those queries (iteration aid; the driver
    // passes exactly two args and gets the full dump)
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    // Tables.session: installs GraftExtensions (native functions some
    // queries need) + the nanosAsLong parquet flag
    val spark = Tables.session("graft-verify")
    new java.io.File(outDir).mkdirs()
    var failed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any stale output from a previous run — a leftover result
        // would silently pass the oracle compare for a now-broken query
        val dir = Paths.get(outDir, name)
        if (Files.exists(dir)) {
          Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
        }
      }
    }
    if (failed > 0) System.err.println(s"[verify] $failed queries FAILED to run")
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
