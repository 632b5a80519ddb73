package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named registry queries to files —
  * the before/after plan evidence for optimization rounds
  * (`plans/rNN/<query>_{before,after}.txt`).
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> <sfDir> <query...>`
  * writes `<outDir>/<query>_<suffix>.txt` per query. Uses the same session
  * shape as graft.Bench (local[$SPARK_GRAFT_CPUS], shuffle.partitions =
  * cpus, UTC) so the dumped plans are the bench's plans. Queries that run
  * eager work at build time (staging writes, training collects) execute it
  * here too — the dump reflects the FINAL action's plan, which is what the
  * bench times last.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      // byName inside the try: a typo'd name must skip to the next query
      // (and still reach spark.stop()), not abort the remaining dumps.
      try {
        val df = Registry.byName(name).run(spark, sfDir)
        // GRAFT_PLAN_EXEC=1: execute the plan first (its own physical plan,
        // rows counted and discarded; `df.count()` would plan and run a
        // different query) so the dump shows the FINAL adaptive plan —
        // AQE runtime decisions (ReusedExchange/stage dedup, coalesced
        // AQEShuffleRead, SMJ→SHJ/BHJ rewrites) are invisible in the
        // pre-execution formatted plan.
        if (sys.env.contains("GRAFT_PLAN_EXEC")) df.queryExecution.toRdd.count()
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Exception =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
