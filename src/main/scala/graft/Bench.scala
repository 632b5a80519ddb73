package graft
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Benchmark entrypoint. Times every registry query on
  * `SPARK_GRAFT_SF_DIR` at `local[SPARK_GRAFT_CPUS]` and prints ONE compact
  * JSON line `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":..}`.
  *
  * Methodology (round 5): one untimed warm pass per query, then
  * `SPARK_GRAFT_PASSES` (default 3) timed passes; the reported number is the
  * MEDIAN of the timed passes. Single-run artifacts proved to be the gate's
  * largest error bar — the round-4 driver capture showed d1_lsh_neardup at
  * 8.06 s purely from host noise (steady-state re-measures: 2.3-2.4 s); the
  * median of three collapses that noise without hiding real regressions.
  * Per-query min/max and the Spark job count of the last timed pass land in
  * the `bench_latest.json` file artifact, with the summed job count and the
  * cpus the run planned at: job counts are host-independent, so they are
  * the number to compare across runs. The one exception is
  * t40_countmin_heavy_hitters: it runs 6 or 8 jobs from run to run, as
  * adaptive execution does or does not reuse its vocab shuffle, so a ±2
  * difference in the summed jobs is not a regression.
  */
object Bench {
  private def round3(v: Double): Double = math.rint(v * 1000) / 1000

  /** One query's timed passes: median/min/max seconds (all -1 when a pass
    * failed) and the Spark jobs its last timed pass ran (-1 on failure).
    */
  private final case class Result(med: Double, min: Double, max: Double,
      jobs: Int)

  private val SentinelGroup = "bench-sentinel"

  /** Counts every job the session starts. [[drain]] runs a one-task
    * sentinel job and waits for the listener to see it: listener events
    * arrive in submission order, so every job started before the sentinel
    * has been counted by then, with no sleep. Returns the jobs since the
    * previous drain.
    */
  private final class JobCounter(spark: SparkSession) {
    private val jobs = new AtomicInteger(0)
    private val marks = new LinkedBlockingQueue[Integer]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        if (group.contains(SentinelGroup)) marks.put(jobs.getAndSet(0))
        else jobs.incrementAndGet()
      }
    })

    def drain(): Int = {
      val sc = spark.sparkContext
      sc.setJobGroup(SentinelGroup, "job-count drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val n = marks.poll(60, TimeUnit.SECONDS)
      require(n != null, "listener never saw the sentinel job")
      n
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Named subset for cross-engine pairings (`runMain graft.Bench fullcomp`
    // or SPARK_GRAFT_SUBSET=fullcomp): the full-computation cut — t*/q*/
    // dash_*/e1–e4 — excludes the ~30 staged-intermediate oracles (which
    // replay Spark's own staged outputs on the DuckDB side) and the 9
    // streaming queries (micro-batch floors with no DuckDB equivalent), so
    // a Spark-vs-DuckDB total compares like for like. The matching DuckDB
    // side is `tools/duckdb_replay.py <sf> <outdir> 32 fullcomp`; recipe in
    // CHANGES.md's round history.
    val subset: Option[String => Boolean] =
      args.headOption.filter(_.nonEmpty)
        .orElse(sys.env.get("SPARK_GRAFT_SUBSET")) match {
        case Some("fullcomp") => Some(n =>
          n.startsWith("t") || n.startsWith("q") || n.startsWith("dash_") ||
            Set("e1_knn_brute", "e2_label_centroids", "e3_vector_norms",
              "e4_embedding_neardup")(n))
        case Some(other) =>
          // Fail fast: a typo'd subset silently becoming a full-registry
          // total would poison a fullcomp comparison, and the warning is
          // easy to miss in driver output. Mirrored in duckdb_replay.py.
          System.err.println(s"[bench] unknown subset '$other' — aborting")
          sys.exit(2)
        case None => None
      }
    // Local-iteration filter: SPARK_GRAFT_ONLY=q1,q2 limits the set; unset
    // (the driver's mode) runs everything. The names the run would bench are
    // keySet ∩ subset: a filter naming anything outside it aborts loudly
    // (the named subsets' and graft.Verify's discipline), never silently
    // benching an empty or unexpectedly thinner set.
    val only = Sessions.nameFilter("SPARK_GRAFT_ONLY",
      SparkEntry.queries.keySet.filter(n => subset.forall(_(n))))(u =>
      s"[bench] SPARK_GRAFT_ONLY queries unknown or outside the active subset: $u")
    val spark = Sessions.cli("WARN")
    // Warm-up outside the timed region: JVM/codegen/parquet-reader init is
    // engine startup, not query cost.
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()
    val passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(3)
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_latest.json")
    def entry(k: String, v: Any): String = "\"" + k + "\":" + v
    def queriesJson(rs: Seq[(String, Result)]): String =
      rs.map { case (k, r) => entry(k, round3(r.med)) }.mkString(",")
    def total(rs: Seq[(String, Result)]): Double =
      round3(rs.map(_._2.med).filter(_ >= 0).sum)
    def writeArtifact(rs: Seq[(String, Result)], partial: Boolean): Unit = {
      val detail = rs.map { case (k, r) =>
        entry(k, s"""{"median":${round3(r.med)},"min":${round3(r.min)},""" +
          s""""max":${round3(r.max)},"jobs":${r.jobs}}""")
      }.mkString("{", ",", "}")
      val jobs = rs.map(_._2.jobs).filter(_ >= 0).sum
      val fileJson =
        s"""{"metric":"total","value":${total(rs)},"unit":"sec","queries":{${queriesJson(rs)}},"sf":"$sfDir","passes":$passes,"stat":"median","partial":$partial,"jobs":$jobs,"cpus":${Sessions.cpus},"detail":$detail}"""
      scala.util.Try(java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (fileJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        .failed.foreach(e =>
          System.err.println(s"[bench] could not write $out: ${e.getMessage}"))
    }
    val counter = new JobCounter(spark)
    val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Result)]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) && subset.forall(_(n)) }
      .map { case (name, fn) =>
        // One untimed warm pass per query (codegen compilation + JIT are
        // engine warm-up, not query cost); its jobs are drained uncounted.
        // Every pass, the warm one included, starts from a clean slate.
        Sessions.cleanSlate(spark)
        try { fn(spark, sfDir).count() } catch { case _: Throwable => }
        counter.drain()
        val timed = (1 to passes).map { _ =>
          Sessions.cleanSlate(spark)
          // A failing pass reports -1, loudly — never its time-to-exception
          // masquerading as a legitimate duration.
          val t0 = System.nanoTime()
          val ok = try { fn(spark, sfDir).count(); true } catch {
            case e: Throwable =>
              System.err.println(
                s"[bench] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
              false
          }
          val secs = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
          (secs, counter.drain()) // the drain's sentinel runs after the clock
        }
        val s = timed.map(_._1).sorted
        val r = name -> (if (s.contains(-1.0)) Result(-1.0, -1.0, -1.0, -1)
          else Result(s(s.length / 2), s.head, s.last, timed.last._2))
        // Checkpoint the artifact after EVERY query (marked partial): a
        // median-of-3 full-registry run takes ~10 min, and a run killed by
        // an external timeout should leave the completed per-query numbers
        // behind, not nothing.
        acc += r
        writeArtifact(acc.toSeq, partial = true)
        r
      }
    // The compact line goes out FIRST (and is this program's primary stdout
    // output): the driver scrapes sbt's stdout and has truncated long tails
    // before — leading with the payload gives the scrape its best chance.
    println(
      s"""{"metric":"total","value":${total(results)},"unit":"sec","queries":{${queriesJson(results)}},"sf":"$sfDir","passes":$passes,"stat":"median"}""")
    // BENCH_r06 showed the driver keeps only a 2000-byte stdout TAIL and
    // parses from that — the full per-query line is 3.3+ KB (re-measured
    // r15: 3392 bytes for 133 queries), so it can never land intact
    // (`parsed: null` every round, truncated at the head). Print a
    // tail-sized summary LAST: same shape, total intact, `queries` trimmed
    // to the slowest entries that fit the window, and a pointer to the
    // committed full artifact. A parsed total beats a null.
    // Budget arithmetic (r15): 2000-byte tail − sbt's `[success] Total
    // time: ...` epilogue (~75 B) − the `[info] ` prefix + newlines (~10 B)
    // − this line's non-queries envelope (~170 B) leaves ≈1745 B for the
    // queries map; 1560 keeps a ~180-byte safety margin (a longer epilogue
    // must never truncate the line's head — a parsed 60-query line beats an
    // unparseable 133-query one). BENCH_r14 `parsed` carried 49 queries
    // inside the old 1200 budget; this lifts the driver's round-over-round
    // PERF coverage to the slowest ~62 without risking the parse.
    val slowest = results.filter(_._2.med >= 0).sortBy(-_._2.med)
    var used = 0
    val kept = slowest.filter { q =>
      val len = queriesJson(Seq(q)).length
      val fits = used + len <= 1560
      if (fits) used += len + 1
      fits
    }
    println(
      s"""{"metric":"total","value":${total(results)},"unit":"sec","queries":{${queriesJson(kept)}},"queries_omitted":${slowest.size - kept.size},"detail_file":"$out","sf":"$sfDir","passes":$passes,"stat":"median"}""")
    // Final durable copy with the full per-query spread (median/min/max
    // over the timed passes) and job counts, partial=false — the stdout
    // line stays in the driver's expected {"queries":{name:sec}} shape.
    writeArtifact(results, partial = false)
    spark.stop()
  }
}
