package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer metrics derived from a traced run's spans.
  *
  * Every traced run reports every metric in [[Layers.all]], so runs of
  * different workloads line up; a layer the workload does not exercise
  * reads 0. Counts and times are per timed pass, because the number of
  * passes in a run depends on how fast they are.
  */
object Layers {
  val Generic: Seq[String] = Seq("ingest", "warehouse", "sleep", "api")
  val GenericCounters: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "self_ms" -> "ms", "driver_ms" -> "ms",
    "jobs" -> "count", "tasks" -> "count", "executor_cpu_ms" -> "ms",
    "input_bytes" -> "bytes", "output_bytes" -> "bytes",
    "shuffle_write_bytes" -> "bytes", "rows_out" -> "count")
  val ApiKinds: Seq[String] = Seq("subjects", "summary", "hypnogram", "band_powers")
  val Families: Seq[String] =
    Seq("q", "d", "e", "s")
  val StreamPhases: Seq[String] = Seq("latestOffset", "getBatch",
    "queryPlanning", "addBatch", "walCommit", "triggerExecution")

  /** Name and unit of every per-layer metric, in report order. */
  val all: Seq[(String, String)] =
    Generic.flatMap(l => GenericCounters.map { case (c, u) => s"$l.$c" -> u }) ++
      Seq(
        "edf.parse_ms" -> "ms", "edf.bytes_parsed" -> "bytes",
        "signal.extract_ms" -> "ms", "signal.us_per_epoch" -> "us",
        "ingest.extract.task_p50_ms" -> "ms", "ingest.extract.task_max_ms" -> "ms",
        "ingest.extract.error_rows" -> "count",
        "ingest.extract.dropped_epochs" -> "count",
        "ingest.validate.jobs" -> "count",
        "warehouse.load.files_written" -> "count",
        "warehouse.load.driver_ms" -> "ms",
        "warehouse.files_per_subject" -> "count",
        "warehouse.errors_files" -> "count",
        "sleep.transform.jobs" -> "count", "sleep.transform.driver_ms" -> "ms",
        "sleep.transform.shuffle_write_bytes" -> "bytes",
        "sleep.transform.executor_cpu_ms" -> "ms",
        "sleep.transform.input_bytes" -> "bytes",
        "sleep.data_tests.jobs" -> "count", "sleep.data_tests.wall_ms" -> "ms") ++
      ApiKinds.flatMap(k => Seq(s"api.$k.p50_ms" -> "ms", s"api.$k.jobs" -> "count",
        s"api.$k.files_read" -> "count", s"api.$k.rows_scanned" -> "count")) ++
      Seq("api.rows_scanned_per_row_returned" -> "ratio") ++
      Families.flatMap(f => Seq(s"queries.$f.wall_s" -> "s", s"queries.$f.jobs" -> "count",
        s"queries.$f.driver_ms" -> "ms", s"queries.$f.shuffle_mb" -> "MB")) ++
      Seq("queries.jobs_total" -> "count", "queries.cached_blocks_left" -> "count",
        "streaming.micro_batches" -> "count") ++
      StreamPhases.map(p => s"streaming.${p}_ms" -> "ms") ++
      Seq("trace.overhead_s" -> "s", "trace.span_coverage" -> "ratio")

  /** The name a job is reported under: its call-site layer, or the name of
    * the span that started it when no program frame is on its stack.
    */
  private def jobName(t: Tracer, j: JobRec, spanName: String): String = t.layerOf(j) match {
    case "unattributed" => spanName.takeWhile(_ != ':')
    case l => l
  }

  /** Computes every metric of [[all]] from the tracer's spans. `extras`
    * supplies the values a workload measures itself (files on disk, probe
    * timings); `passes` are the traced passes' busy seconds (time inside
    * operations, checks excluded), and `loopS` the wall seconds of the
    * whole traced-pass loop (checks and work between passes included).
    */
  def report(t: Tracer, passes: Seq[Double], loopS: Double,
      extras: Map[String, Double]): mutable.LinkedHashMap[String, Double] = {
    val n = math.max(passes.size, 1).toDouble
    val spans = t.allSpans.filter(s => !s.endMs.isNaN)
    val byId = spans.map(s => s.id -> s).toMap
    // (job, name, explicit span that started it)
    val jobs = spans.flatMap { s =>
      t.jobsUnder(s).filter(_.group == s"span-${s.id}").map(j => (j, jobName(t, j, s.name), s))
    }.filter(!_._1.endMs.isNaN)
    def layerOf(name: String) = name.takeWhile(_ != '.')
    def iv(s: Span) = (s.startMs, s.endMs)
    def jiv(j: JobRec) = (j.startMs, j.endMs)
    def ancestors(s: Span): Seq[Span] =
      byId.get(s.parent).map(p => p +: ancestors(p)).getOrElse(Nil)

    val out = mutable.LinkedHashMap.empty[String, Double]
    all.foreach { case (name, _) => out(name) = 0.0 }

    def sumJobs(js: Seq[JobRec]) = Map(
      "jobs" -> js.size.toDouble,
      "tasks" -> js.map(_.tasks).sum.toDouble,
      "executor_cpu_ms" -> js.map(_.cpuNs).sum / 1e6,
      "input_bytes" -> js.map(_.inputBytes).sum.toDouble,
      "output_bytes" -> js.map(_.outputBytes).sum.toDouble,
      "shuffle_write_bytes" -> js.map(_.shuffleWriteBytes).sum.toDouble,
      "rows_out" -> t.execsOf(js).map(_.rowsOut).sum.toDouble)

    /** Span time not covered by any job the span started. */
    def driverMs(ss: Seq[Span]): Double = ss.map { s =>
      val covered = Tracer.unionLen(Tracer.clip(t.jobsUnder(s).map(jiv), s.startMs, s.endMs))
      s.durMs - covered
    }.sum

    /** Driver time between the first and last of `js` when no span wraps
      * them alone: the hull of their intervals minus the jobs themselves.
      */
    def hullDriverMs(js: Seq[JobRec], within: Seq[Span]): Double = within.map { s =>
      val mine = js.filter(j => t.jobsUnder(s).exists(_.id == j.id))
      if (mine.isEmpty) 0.0
      else {
        val lo = mine.map(_.startMs).min
        val hi = mine.map(_.endMs).max
        val all = Tracer.clip(t.jobsUnder(s).map(jiv), lo, hi)
        (hi - lo) - Tracer.unionLen(all)
      }
    }.sum

    Generic.foreach { l =>
      val lSpans = spans.filter(_.layer == l)
      val lJobs = jobs.filter(x => layerOf(x._2) == l)
      val lIv = lSpans.map(iv) ++ lJobs.map(x => jiv(x._1))
      val wall = Tracer.unionLen(lIv)
      // Other-layer work nested inside this layer's spans.
      val nested = spans.filter(s => s.layer != l && ancestors(s).exists(_.layer == l)).map(iv) ++
        jobs.filter(x => layerOf(x._2) != l &&
          (x._3.layer == l || ancestors(x._3).exists(_.layer == l))).map(x => jiv(x._1))
      val nestedLen = Tracer.unionLen(nested)
      val overlap = wall + nestedLen - Tracer.unionLen(lIv ++ nested)
      val topSpans = lSpans.filterNot(s => ancestors(s).exists(_.layer == l))
      // A layer with no span of its own (its jobs run inside another
      // layer's call) has the driver time between its first and last job.
      val driver =
        if (topSpans.nonEmpty) driverMs(topSpans)
        else hullDriverMs(lJobs.map(_._1), spans.filter(_.parent < 0))
      out(s"$l.wall_ms") = wall / n
      out(s"$l.self_ms") = (wall - overlap) / n
      out(s"$l.driver_ms") = driver / n
      sumJobs(lJobs.map(_._1)).foreach { case (k, v) => out(s"$l.$k") = v / n }
    }

    // ingest: JobRunner.run's extraction jobs, split off by call site.
    val runSpans = spans.filter(_.name == "ingest.run")
    val runJobs = runSpans.flatMap(s => jobs.filter(_._3.id == s.id))
    val validateJobs = runSpans.map { s =>
      val js = runJobs.filter(_._3.id == s.id).sortBy(_._1.startMs)
      js.takeWhile(x => !x._2.startsWith("warehouse")).count(x => layerOf(x._2) == "ingest")
    }.sum
    out("ingest.validate.jobs") = validateJobs / n
    out("ingest.extract.dropped_epochs") =
      runJobs.map(_._1.accums.getOrElse("dropped_epochs", 0L)).sum / n

    // warehouse
    val loadJobs = jobs.filter(_._2 == "warehouse.load")
    out("warehouse.load.files_written") =
      t.execsOf(loadJobs.map(_._1)).map(_.filesWritten).sum / n
    out("warehouse.load.driver_ms") =
      hullDriverMs(loadJobs.filter(_._3.name == "ingest.run").map(_._1), runSpans) / n

    // sleep: the model DAG (transform) and its interleaved data tests.
    val transformJobs = jobs.filter(x => x._2.startsWith("sleep.transform") ||
      x._2.startsWith("sleep.data_tests")).map(_._1)
    val tSums = sumJobs(transformJobs)
    out("sleep.transform.jobs") = tSums("jobs") / n
    out("sleep.transform.shuffle_write_bytes") = tSums("shuffle_write_bytes") / n
    out("sleep.transform.executor_cpu_ms") = tSums("executor_cpu_ms") / n
    out("sleep.transform.input_bytes") = tSums("input_bytes") / n
    out("sleep.transform.driver_ms") =
      hullDriverMs(transformJobs, runSpans) / n
    val testJobs = jobs.filter(_._2 == "sleep.data_tests").map(_._1)
    out("sleep.data_tests.jobs") = testJobs.size / n
    out("sleep.data_tests.wall_ms") = Tracer.unionLen(testJobs.map(jiv)) / n

    // api: one span per dashboard read.
    ApiKinds.foreach { k =>
      val ss = spans.filter(_.name == s"api.$k")
      val reads = math.max(ss.size, 1).toDouble
      val js = ss.flatMap(t.jobsUnder)
      val ex = t.execsOf(js)
      out(s"api.$k.p50_ms") = Main.median(ss.map(_.durMs))
      out(s"api.$k.jobs") = js.size / reads
      out(s"api.$k.files_read") = ex.map(_.filesRead).sum / reads
      out(s"api.$k.rows_scanned") = ex.map(_.rowsScanned).sum / reads
    }
    val apiExecs = t.execsOf(spans.filter(s => ApiKinds.exists(k => s.name == s"api.$k"))
      .flatMap(t.jobsUnder))
    extras.get("api.rows_returned").filter(_ > 0).foreach { r =>
      out("api.rows_scanned_per_row_returned") = apiExecs.map(_.rowsScanned).sum / r
    }

    // queries: one span per registry query, named queries.<family>:<query>.
    val qSpans = spans.filter(_.layer == "queries")
    Families.foreach { f =>
      val ss = qSpans.filter(_.name.startsWith(s"queries.$f:"))
      val js = ss.flatMap(t.jobsUnder)
      out(s"queries.$f.wall_s") = ss.map(_.durMs).sum / 1e3 / n
      out(s"queries.$f.jobs") = js.size / n
      out(s"queries.$f.driver_ms") = driverMs(ss) / n
      out(s"queries.$f.shuffle_mb") = js.map(_.shuffleWriteBytes).sum / 1e6 / n
    }
    out("queries.jobs_total") = qSpans.flatMap(t.jobsUnder).size / n

    // streaming: StreamingQueryProgress of every micro-batch.
    val progress = t.progress.asScala.toSeq
    out("streaming.micro_batches") = progress.size / n
    StreamPhases.foreach { p =>
      out(s"streaming.${p}_ms") = progress.map(_.getOrElse(p, 0L)).sum / n
    }

    // Share of the traced-pass loop's wall time covered by top-level spans.
    val top = spans.filter(_.parent < 0).map(iv)
    if (loopS > 0) out("trace.span_coverage") = Tracer.unionLen(top) / (loopS * 1e3)

    extras.foreach { case (k, v) => if (out.contains(k)) out(k) = v }
    out
  }
}
