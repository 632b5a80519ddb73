package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration filter (same contract as Bench): SPARK_GRAFT_ONLY=a,b
    // dumps just those queries; unset (the driver's mode) dumps everything.
    // Checked BEFORE paying SparkSession startup.
    val only = Sessions.nameFilter("SPARK_GRAFT_ONLY",
      SparkEntry.queries.keySet)(u => s"[verify] unknown SPARK_GRAFT_ONLY queries: $u")
    val spark = Sessions.cli("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
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
    // Staged-intermediate oracles embed Stage.Placeholder; rewrite it to the
    // concrete per-sf stage dir the queries just wrote under.
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(Stage.Placeholder, Stage.dir(sfDir)))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
