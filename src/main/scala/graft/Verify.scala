package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration filter (same contract as Bench): SPARK_GRAFT_ONLY=a,b
    // dumps just those queries; unset (the driver's mode) dumps everything.
    // Fail fast on a typo'd name BEFORE paying SparkSession startup: a
    // misspelled filter must abort loudly, never silently verify nothing.
    // Empty segments (or an entirely empty value) mean "no filter",
    // matching the documented "unset dumps everything" contract.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").filter(_.nonEmpty).toSet).filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty) {
        System.err.println(s"[verify] unknown SPARK_GRAFT_ONLY queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
        sys.exit(2)
      }
    }
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
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
