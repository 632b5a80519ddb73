package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Pins the planner's RPC budget and plan for brace globs whose
  * alternatives overlap: a directory AND a glob or a literal file
  * inside it. Both alternatives reach the same files; the plan
  * must list each file once, and the budget must not grow past what the
  * two alternatives cost on their own. Counts are
  * (listings, stats, opens) on the `cfs:` [[CountingFileSystem]].
  */
class EdfPlanningOverlapSpec extends SparkSpec {

  private def plan(pattern: String): ((Int, Int, Int), Seq[String]) = {
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    spark.sparkContext.hadoopConfiguration
      .set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    val batch = new EdfDataSource()
      .getTable(EdfDataSource.Schema, Array.empty,
        java.util.Map.of("path", s"cfs:$pattern"))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
    CountingFileSystem.measureLock.synchronized {
      CountingFileSystem.reset()
      val parts = batch.planInputPartitions().toSeq
        .map(_.asInstanceOf[EdfInputPartition].path)
      (CountingFileSystem.counts, parts)
    }
  }

  /** `base/day` with two committed files; `fenced` adds one crashed
    * export whose manifest mentions one still-staged new file.
    */
  private def layout(prefix: String, fenced: Boolean): String = {
    val base = tmpDir(prefix)
    val day = s"$base/day"
    Files.createDirectories(Paths.get(day))
    Seq("rec0.edf", "rec1.edf").foreach(n =>
      Files.write(Paths.get(s"$day/$n"), "final".getBytes(UTF_8)))
    if (fenced) {
      val stage = Paths.get(s"$day/_temporary/q1/task-0-0")
      Files.createDirectories(stage)
      val staged = stage.resolve("new.edf")
      Files.write(staged, "staged".getBytes(UTF_8))
      Files.write(Paths.get(s"$day/" + EdfBatchWrite.fenceName(
        EdfBatchWrite.ManifestPrefix, 1, "q1")),
        s"$staged\tnew.edf\n".getBytes(UTF_8))
    }
    base
  }

  private def names(parts: Seq[String]): Seq[String] =
    parts.map(p => p.substring(p.lastIndexOf('/') + 1))

  /** The committed files in the order the local filesystem lists them —
    * the order a directory load plans them in.
    */
  private def listed(base: String): Seq[String] =
    new java.io.File(s"$base/day").list().toSeq.filter(_.startsWith("rec"))

  test("steady dir-and-glob overlap: (6, 4, 0), each file once") {
    val base = layout("ovl_steady_glob", fenced = false)
    val (counts, parts) = plan(s"$base/{day,day/*.edf}")
    assert(counts == ((6, 4, 0)), s"budget moved: $counts")
    assert(names(parts) == listed(base), parts)
  }

  test("steady dir-and-literal overlap: (5, 5, 0), each file once") {
    val base = layout("ovl_steady_lit", fenced = false)
    val (counts, parts) = plan(s"$base/{day,day/rec0.edf}")
    assert(counts == ((5, 5, 0)), s"budget moved: $counts")
    assert(names(parts) == listed(base), parts)
  }

  test("fenced dir-and-glob overlap: (12, 6, 2), pending name once") {
    // With a fence present each alternative resolves the directory under
    // its own name gate (the directory load's `*.edf` data gate, the
    // glob's name component), so the manifest read and the staging walk
    // are paid once per alternative.
    val base = layout("ovl_fenced_glob", fenced = true)
    val (counts, parts) = plan(s"$base/{day,day/*.edf}")
    assert(counts == ((12, 6, 2)), s"budget moved: $counts")
    assert(names(parts) == listed(base) :+ "new.edf", parts)
  }
}
