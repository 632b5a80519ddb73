package graft.ingest

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.sleep.SleepModels
import graft.warehouse.Warehouse

/** End-to-end job: the reference's `run_ingestion_pipeline`
  * (`pipeline.py:178-267`, SURVEY §3.1) as one Spark application.
  *
  * Config validation → extraction (one task per recording, per-subject
  * failure isolation; each task applies the V1 row contract to its own
  * subject and rejects it whole) → partitioned warehouse load (dynamic
  * overwrite) → model DAG with interleaved data tests (V7 fail-fast) →
  * marts materialized.
  *
  * The reference's thread/process boundaries collapse into Spark's
  * driver/executor split; its all-subjects-failed abort
  * (`pipeline.py:259-260`) is preserved.
  */
object JobRunner {

  final case class JobConfig(
      startingSubject: Int = 0,
      endingSubject: Int = 3,
      warehouseDir: String,
      gapEpochs: Int = SleepModels.DefaultGapEpochs,
      /** Opt the job into the reference reader's salvage behavior for
        * interrupted recordings ([[Ingest.extract]]'s lenient mode);
        * the strict default keeps error-channel accounting exact. */
      lenient: Boolean = false)

  final case class JobReport(
      subjectsAttempted: Int,
      epochsLoaded: Long,
      subjectsFailed: Long,
      martRows: Map[String, Long])

  def validateConfig(cfg: JobConfig): Unit = {
    // pipeline.py:185-189 subject-range check.
    if (cfg.startingSubject < 0 || cfg.endingSubject <= cfg.startingSubject)
      throw new IllegalArgumentException(
        s"invalid subject range [${cfg.startingSubject}, ${cfg.endingSubject})")
  }

  /** Run extraction + load + transform over the given recordings; the
    * error rows are evaluated once and the row counts come from the writes. */
  def run(spark: SparkSession, cfg: JobConfig, refs: Seq[RecordingRef]): JobReport = {
    import spark.implicits._
    validateConfig(cfg)
    // epoch_idx restarts at 0 in every recording, so two recordings of one
    // subject would collide in its warehouse partition.
    val repeated = refs.groupBy(_.subjectId).collect { case (s, rs) if rs.size > 1 => s }
    require(repeated.isEmpty,
      s"repeated subject ids in refs: ${repeated.toSeq.sorted.mkString(", ")}")
    // Only subjects in [startingSubject, endingSubject) are processed
    // (pipeline.py:185-189).
    val outside = refs.map(_.subjectId)
      .filterNot(s => s >= cfg.startingSubject && s < cfg.endingSubject)
    require(outside.isEmpty, s"subject ids outside [${cfg.startingSubject}, " +
      s"${cfg.endingSubject}): ${outside.sorted.mkString(", ")}")
    require(refs.nonEmpty, "no recordings to ingest")
    val wh = new Warehouse(spark, cfg.warehouseDir)

    // Extract once; persist the combined result so the epoch/error split
    // doesn't recompute the signal kernels.
    val metrics = Ingest.ExtractMetrics(spark)
    val extracted =
      Ingest.extract(spark, refs, Some(metrics), cfg.lenient).persist()
    try {
      // At most two error rows per recording: collected once.
      val errors = Ingest.errorsOf(extracted).as[IngestError].collect()
      // SALVAGE_WARNING rows are observability, not failures: the subject's
      // epochs were extracted (the contract may still have rejected them,
      // as its own row). Log every row, but count only real failures.
      val nFailed = errors.filter(_.error_type != Ingest.SalvageWarningType)
        .map(_.subject_id).distinct.length.toLong
      if (errors.nonEmpty) wh.logErrors(errors.toSeq.toDF())

      // All-failed ⇒ abort before transform (pipeline.py:259-260).
      if (nFailed >= refs.size)
        throw new IllegalStateException(
          s"all $nFailed subjects failed extraction; aborting transform")

      val epochsLoaded = written(Ingest.epochsOf(extracted))(wh.loadEpochs(_, overwrite = true))
      if (metrics.dropped.value > 0)
        // processing.py:173-180's per-subject drop log, summarized.
        graft.Log.info(f"[ingest] dropped ${metrics.dropped.value}/" +
          f"${metrics.totalEvents.value} invalid epochs " +
          f"(${metrics.dropRate * 100}%.1f%%)")
      if (metrics.salvagedRecords.value > 0 || metrics.skippedTals.value > 0)
        // Run-level salvage totals; the per-subject breakdown is queryable
        // as SALVAGE_WARNING rows in INGESTION_ERRORS.
        graft.Log.info(s"[ingest] lenient salvage: " +
          s"${metrics.salvagedRecords.value} truncated record(s) dropped, " +
          s"${metrics.skippedTals.value} malformed TAL(s) skipped")

      val marts = transform(spark, wh.readEpochs(), cfg.gapEpochs, cfg.warehouseDir)
      JobReport(refs.size, epochsLoaded, nFailed, marts)
    } finally extracted.unpersist()
  }

  /** The dbt model DAG (§3.2): staging/metrics stay lazy (views), marts are
    * materialized and counted by their writes. Each test battery is one
    * aggregate, run fail-fast (V7) before anything builds on its model: the
    * summary is tested before it is written. `sleep_metrics` feeds both
    * other marts, so it is cached for the three writes, as dbt builds the
    * shared intermediate once.
    */
  def transform(spark: SparkSession, epochs: DataFrame, gapEpochs: Int,
      outDir: String): Map[String, Long] = {
    val staged = SleepModels.staging(epochs)
    Validation.requireAll(Validation.stagingChecks(staged))

    val metrics = SleepModels.sleepMetrics(staged, gapEpochs).persist()
    def mart(name: String, df: DataFrame): (String, Long) =
      name -> written(df)(_.write.mode("overwrite").parquet(s"$outDir/$name"))
    try {
      val metricsRows = mart("sleep_metrics", metrics)
      val summary = SleepModels.sleepSummary(metrics)
      Validation.requireAll(Validation.summaryChecks(summary))
      Map(metricsRows, mart("sleep_summary", summary),
        mart("sleep_features", SleepModels.sleepFeatures(metrics)))
    } finally metrics.unpersist()
  }

  /** Runs `write` on `df`; returns the rows it wrote, observed on the write. */
  private def written(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("rows")))
    rows.get("rows").asInstanceOf[Long]
  }
}
