package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.api.SleepReads
import graft.ingest.{Ingest, JobRunner, RecordingRef, SyntheticSource}
import graft.warehouse.Warehouse

/** Synthetic EDF corpora, written by parallel Spark tasks. */
object Corpus {
  /** The three hostile-file classes, as in the ingest profiler's corrupt
    * legs: 0 = truncated payload, 1 = a hostile record-count header,
    * 2 = a malformed TAL onset in the hypnogram.
    */
  def corrupt(cls: Int, psg: Array[Byte], hyp: Array[Byte]): (Array[Byte], Array[Byte]) =
    cls match {
      case 0 => (psg.dropRight(150), hyp)
      case 1 =>
        val b = psg.clone()
        System.arraycopy("99999999".getBytes("US-ASCII"), 0, b, 236, 8)
        (b, hyp)
      case _ =>
        val b = hyp.clone()
        val headerBytes = new String(b, 184, 8, "US-ASCII").trim.toInt
        var i = headerBytes
        while (i < b.length && b(i) != '+') i += 1
        require(i + 1 < b.length, "hypnogram has no TAL to corrupt")
        b(i + 1) = 'q'.toByte
        (psg, b)
    }

  /** Writes one EDF pair per subject under `dir`, one Spark task per
    * subject; `planted` maps a subject to its corruption class.
    */
  def write(spark: SparkSession, dir: Path, subjects: Seq[Int], seed: Long,
      planted: Map[Int, Int]): Seq[RecordingRef] = {
    Main.deleteTree(dir)
    Files.createDirectories(dir)
    val d = dir.toString
    spark.sparkContext.parallelize(subjects, subjects.size).foreach { s =>
      val (psg0, hyp0) = SyntheticSource.recording(s, seed)
      val (psg, hyp) = planted.get(s).map(c => corrupt(c, psg0, hyp0)).getOrElse((psg0, hyp0))
      Files.write(Paths.get(s"$d/psg$s.edf"), psg)
      Files.write(Paths.get(s"$d/hyp$s.edf"), hyp)
    }
    subjects.map(s => RecordingRef(s, s"$d/psg$s.edf", s"$d/hyp$s.edf"))
  }

  /** The first subject id of the dashboard's copied marts, clear of the
    * corpus ids.
    */
  val CopyIdBase = 10000

  def parquetFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val walk = Files.walk(dir)
      try walk.filter(_.toString.endsWith(".parquet")).count()
      finally walk.close()
    }
}

/** `pipeline`: the paper's path end to end. A seeded corpus with planted
  * hostile recordings goes through `JobRunner.run` to the marts in strict
  * mode (the nightly batch); then one dashboard client reads a large copy
  * of the marts in a closed loop with no think time: each page view draws
  * a subject with Zipf s = 1 and issues the dashboard's four reads.
  */
final class PipelineWorkload(spark: SparkSession, work: Path, seed: Long, tiny: Boolean)
    extends Workload {
  private val n = if (tiny) 6 else 16
  private val nPlanted = 3
  /** Subjects in the dashboard's marts. The marts are not partitioned by
    * subject, so a point read scans the whole table and its size matters.
    */
  private val dashN = if (tiny) 40 else 1200
  private val pages = if (tiny) 2 else 8
  private val rng = new Random(seed)
  private val planted: Map[Int, Int] =
    rng.shuffle((0 until n).toList).take(nPlanted).zipWithIndex.toMap
  private val healthy = (0 until n).filterNot(planted.contains)
  /** The recordings the warm-up takes through the batch: three healthy
    * ones and a hostile one. Its marts are the source of the dashboard's.
    */
  private val slice = healthy.take(3) :+ planted.keys.min
  /** Dashboard subject -> the healthy subject whose mart rows it copies. */
  private val sourceOf: Map[Int, Int] =
    (0 until dashN).map(i => (Corpus.CopyIdBase + i) -> slice(rng.nextInt(3))).toMap
  private val dashSubjects = sourceOf.keys.toSeq.sorted
  /** Zipf rank -> subject: a seeded permutation of the dashboard subjects. */
  private val byRank = rng.shuffle(dashSubjects.toVector)
  private val cdf = {
    val w = byRank.indices.map(k => 1.0 / (k + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  /** The error type the strict parser reports for each corruption class. */
  private val expectedType = Map(0 -> "IllegalArgumentException",
    1 -> "IllegalArgumentException", 2 -> "IllegalArgumentException")
  private val srcDir = work.resolve("src")
  private val dashDir = work.resolve("dash").toString
  private var refs: Seq[RecordingRef] = Nil
  private var pass = 0
  private val ingestS = mutable.ArrayBuffer.empty[Double]
  private var epochsLoaded = 0L
  private val errorRows = mutable.ArrayBuffer.empty[Long]
  private var rowsReturned = 0L
  private val readMs = mutable.ArrayBuffer.empty[Double]
  /** Expected reads per source subject, from one full read of the source
    * marts made before timing starts: (summary row, hypnogram rows).
    */
  private var expected: Map[Int, (Row, Seq[Row])] = Map.empty

  def sizes = Seq("recordings" -> n, "planted" -> nPlanted, "dashboard_subjects" -> dashN,
    "page_views_per_pass" -> pages, "reads_per_pass" -> pages * 4)

  /** Writes the corpus, and copies the warm-up batch's `sleep_summary`
    * and `sleep_metrics` rows to the [[dashN]] dashboard subjects, laid
    * out as the model DAG lays out its output: hash partitioned by subject
    * into one file per shuffle partition.
    */
  def setup(rep: Int): Unit = {
    refs = Corpus.write(spark, work.resolve("corpus"), 0 until n, seed, planted)
    val map = spark.createDataFrame(sourceOf.toSeq).toDF("copy_id", "src_id")
    Seq("sleep_summary", "sleep_metrics").foreach { mart =>
      val df = spark.read.parquet(s"$srcDir/$mart")
      df.join(broadcast(map), col("subject_id") === col("src_id"))
        .select(df.columns.map(c => if (c == "subject_id") col("copy_id").as(c) else col(c)): _*)
        .repartition(col("subject_id"))
        .write.mode("overwrite").parquet(s"$dashDir/$mart")
    }
  }

  private def whDir(k: Int) = work.resolve(s"wh$k")

  override def beforePass(): Unit = {
    Main.deleteTree(whDir(pass))
    pass += 1
  }

  /** Runs the batch over [[slice]], reads its marts in full for the
    * expected reads, and makes one page view over them: the JIT and code
    * generation of every path a pass takes, on a fraction of its work.
    */
  override def warmUp(ops: Ops): Unit = {
    val warmRefs = Corpus.write(spark, work.resolve("warm"), slice, seed, planted)
    JobRunner.run(spark, JobRunner.JobConfig(0, n, srcDir.toString), warmRefs)
    val api = new SleepReads(spark, srcDir.toString)
    val summaryOf = spark.read.parquet(s"$srcDir/sleep_summary").collect()
      .map(r => r.getAs[Int]("subject_id") -> r).toMap
    val metrics = spark.read.parquet(s"$srcDir/sleep_metrics")
      .select("subject_id", "epoch_idx", "sleep_stage", "is_in_sleep_period").collect()
    expected = metrics.groupBy(_.getInt(0)).map { case (s, rows) =>
      val in = rows.filter(_.getBoolean(3)).sortBy(_.getInt(1))
      val onset = if (in.isEmpty) 0 else in.map(_.getInt(1)).min
      s -> (summaryOf(s), in.toSeq.map { r =>
        val pos = api.StageOrder.indexOf(r.getString(2))
        Row((r.getInt(1) - onset) * 0.5, if (pos < 0) null else pos, r.getString(2))
      })
    }
    slice.take(1).foreach { s =>
      api.subjects().collect(); api.summaryFor(s).collect()
      api.hypnogramFor(s).collect(); api.bandPowersFor(s).collect()
    }
  }

  def pass(ops: Ops): Unit = {
    val dir = whDir(pass).toString
    ops.op(sample = false) {
      val t0 = System.nanoTime()
      val report = Trace.span("ingest.run")(JobRunner.run(spark, JobRunner.JobConfig(0, n, dir), refs))
      ingestS += (System.nanoTime() - t0) / 1e9
      report
    } { report =>
      epochsLoaded = report.epochsLoaded
      val errs = new Warehouse(spark, dir).readErrors()
        .select("subject_id", "error_type").collect()
        .map(r => r.getInt(0) -> r.getString(1)).toSet
      if (Trace.on) errorRows += errs.size
      val summary = spark.read.parquet(s"$dir/sleep_summary").select("subject_id")
        .collect().map(_.getInt(0)).sorted.toSeq
      Seq(
        "ingest.failed_subjects" -> (report.subjectsFailed == nPlanted),
        "ingest.error_channel" -> (errs == planted.map { case (s, c) => s -> expectedType(c) }.toSet),
        "ingest.summary_rows" -> (summary == healthy))
    }
    reads(ops, Seq.fill(pages) {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      byRank(math.min(if (i >= 0) i else -i - 1, cdf.length - 1))
    })
  }

  /** One page view per subject in `draws`, over the dashboard's marts. A
    * read must equal its source subject's row from [[expected]], with the
    * subject id changed to the copy's.
    */
  private def reads(ops: Ops, draws: Seq[Int]): Unit = {
    val api = new SleepReads(spark, dashDir)
    /** One read, timed on its own for the read percentiles. */
    def read(kind: String)(f: => Array[Row]): Array[Row] = {
      val t0 = System.nanoTime()
      val rows = Trace.span(s"api.$kind")(f)
      if (ops.sampling) readMs += (System.nanoTime() - t0) / 1e6
      if (Trace.on) rowsReturned += rows.length
      rows
    }
    // One operation per page view: the user waits for all four charts.
    draws.foreach { s =>
      ops.op(sample = true) {
        (read("subjects")(api.subjects().collect()), read("summary")(api.summaryFor(s).collect()),
          read("hypnogram")(api.hypnogramFor(s).collect()),
          read("band_powers")(api.bandPowersFor(s).collect()))
      } { case (subj, summary, hypnogram, bands) =>
        val (src, hyp) = expected(sourceOf(s))
        val e = Row.fromSeq(src.toSeq.updated(src.fieldIndex("subject_id"), s))
        Seq(
          "dashboard.subjects" -> (subj.map(_.getInt(0)).toSeq == dashSubjects),
          "dashboard.summary" -> (summary.length == 1 && summary(0) == e),
          "dashboard.hypnogram" -> (hypnogram.toSeq == hyp),
          "dashboard.band_powers" -> (bands.map(x => (x.getString(0), x.getDouble(2))).toSeq == Seq(
            "Delta" -> src.getAs[Double]("avg_delta_power"), "Theta" -> src.getAs[Double]("avg_theta_power"),
            "Alpha" -> src.getAs[Double]("avg_alpha_power"), "Sigma" -> src.getAs[Double]("avg_sigma_power"),
            "Beta" -> src.getAs[Double]("avg_beta_power"))))
      }
    }
  }

  def named(passS: Seq[Double], ops: Ops) = Seq(
    ("epochs_per_s", epochsLoaded / Main.median(ingestS.toSeq), "1/s"),
    ("read_p50_ms", Main.percentile(readMs.toSeq, 50), "ms"),
    ("read_p95_ms", Main.percentile(readMs.toSeq, 95), "ms"))

  override def layerExtras(t: Tracer, tracedPasses: Int): Map[String, Double] = {
    // Extraction tasks: the stage with one task per recording.
    val perRun = t.allSpans.filter(_.name == "ingest.run").map { s =>
      t.jobsUnder(s).flatMap(_.stageTaskMs.values).filter(_.size == n)
        .sortBy(-_.sum).headOption.getOrElse(Nil).map(_.toDouble)
    }.filter(_.nonEmpty)
    // Kernel probe: parse and extract each recording inside benchmark-owned
    // tasks, timing the edf and signal layers apart.
    val probe = spark.sparkContext.parallelize(refs, refs.size).map { r =>
      try {
        val psgB = Files.readAllBytes(Paths.get(r.psgPath))
        val hypB = Files.readAllBytes(Paths.get(r.hypnoPath))
        val t0 = System.nanoTime()
        val psg = Ingest.parsePsgPicked(psgB)
        val hyp = graft.edf.Edf.parse(hypB)
        val t1 = System.nanoTime()
        val rows = Ingest.extractRecording(r.subjectId, psg, hyp).rows.size
        val t2 = System.nanoTime()
        (t1 - t0, (psgB.length + hypB.length).toLong, t2 - t1, rows.toLong)
      } catch { case _: Exception => (0L, 0L, 0L, 0L) }
    }.collect()
    val extractNs = probe.map(_._3).sum
    val epochs = probe.map(_._4).sum
    Map(
      "ingest.extract.task_p50_ms" -> (if (perRun.isEmpty) 0.0 else Main.median(perRun.flatten)),
      "ingest.extract.task_max_ms" -> (if (perRun.isEmpty) 0.0 else Main.median(perRun.map(_.max))),
      "ingest.extract.error_rows" ->
        (if (errorRows.isEmpty) 0.0 else errorRows.sum.toDouble / errorRows.size),
      "warehouse.files_per_subject" ->
        Corpus.parquetFiles(whDir(pass).resolve("sleep_epochs")).toDouble / healthy.size,
      "warehouse.errors_files" ->
        Corpus.parquetFiles(whDir(pass).resolve("ingestion_errors")).toDouble,
      "edf.parse_ms" -> probe.map(_._1).sum / 1e6,
      "edf.bytes_parsed" -> probe.map(_._2).sum.toDouble,
      "signal.extract_ms" -> extractNs / 1e6,
      "signal.us_per_epoch" -> (if (epochs == 0) 0.0 else extractNs / 1e3 / epochs),
      "api.rows_returned" -> rowsReturned.toDouble)
  }
}

object RegistryWorkload {
  /** The committed test data: the sf0.001 tables the queries read. */
  val Data = "perfbench/data/sf0.001"
  /** Row count and hash of each query's output on [[Data]]. */
  val Expected = "perfbench/registry_expected.json"
}

/** `registry`: a fixed cut of the query registry on the committed test
  * data, each query from a clean slate (no cached blocks, a fresh GC).
  */
final class RegistryWorkload(spark: SparkSession, sfDir: Path, expectedFile: Path)
    extends Workload {
  /** One query from each of the relational, dedup (`ops`), embedding
    * (`expressions`) and streaming families: every registry layer, in a
    * pass short enough to run three times.
    */
  private val names = Seq("q5_sessionization", "d5_bloom_incremental", "e1_knn_brute",
    "s1_stream_windows")
  private val dir = sfDir.toString
  /** The tables the queries read. */
  private val tables = Seq("events", "documents", "embeddings")
  private val expected: Map[String, (Long, Long)] = {
    val txt = new String(Files.readAllBytes(expectedFile), "UTF-8")
    "\"([a-z0-9_]+)\":\\s*\\{\"rows\":\\s*(-?\\d+),\\s*\"hash\":\\s*(-?\\d+)\\}".r
      .findAllMatchIn(txt).map(m => m.group(1) -> (m.group(2).toLong, m.group(3).toLong)).toMap
  }
  private var cachedBlocks = 0L
  /** Latencies (ms) of each query over the timed passes. */
  private val latencyMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def sizes = Seq("queries" -> names.size)

  /** Three timed passes: their median damps a late JIT compile or a busy
    * neighbour in any one of them.
    */
  override def minPasses = 3

  def setup(rep: Int): Unit = {
    require(Files.isDirectory(sfDir), s"missing test data $sfDir")
    tables.foreach(t => graft.Tables.table(spark, dir, t).count())
  }

  private def family(q: String): String = q.takeWhile(_ != '_').filter(_.isLetter)

  /** Row count and an order-insensitive hash over the columns in name order. */
  private def digest(df: DataFrame, rows: Array[Row]): (Long, Long) = {
    val order = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val h = rows.foldLeft(0L) { (acc, r) =>
      acc + scala.util.hashing.MurmurHash3.stringHash(
        order.map(i => String.valueOf(r.get(i))).mkString("\u0001")).toLong
    }
    (rows.length.toLong, h)
  }

  /** One untimed pass, as graft.Bench warms each query before timing it. */
  override def warmUp(ops: Ops): Unit = pass(ops)

  def pass(ops: Ops): Unit = names.foreach { q =>
    spark.sharedState.cacheManager.clearCache()
    System.gc()
    val fn = graft.SparkEntry.queries(q)
    ops.op(sample = true)(Trace.span(s"queries.${family(q)}:$q") {
      val df = fn(spark, dir)
      (df, df.collect())
    }) { case (df, rows) =>
      if (Trace.on)
        cachedBlocks += spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
      val d = digest(df, rows)
      val ok = expected.get(q).contains(d)
      // The line registry_expected.json holds for this output.
      if (!ok) System.err.println(s"""[perfbench] got "$q": {"rows": ${d._1}, "hash": ${d._2}}""")
      Seq(s"registry.$q" -> ok)
    }
    if (ops.sampling) latencyMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ops.lastMs
  }

  /** The median query, each query taken at its median over the passes.
    * The four queries' latencies do not overlap, so the median of all
    * samples would be one query's slowest run.
    */
  override def opP50Ms(ops: Ops): Double =
    Main.median(latencyMs.values.map(v => Main.median(v.toSeq)).toSeq)

  def named(passS: Seq[Double], ops: Ops) = Seq(
    ("query_p50_ms", Main.percentile(ops.latenciesMs.toSeq, 50), "ms"),
    ("query_p90_ms", Main.percentile(ops.latenciesMs.toSeq, 90), "ms"))

  override def layerExtras(t: Tracer, tracedPasses: Int): Map[String, Double] =
    Map("queries.cached_blocks_left" -> cachedBlocks.toDouble / math.max(tracedPasses, 1))
}
