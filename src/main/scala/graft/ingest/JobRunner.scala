package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, count_distinct, lit, when}

import graft.sleep.SleepModels
import graft.warehouse.Warehouse

/** End-to-end job: the reference's `run_ingestion_pipeline`
  * (`pipeline.py:178-267`, SURVEY §3.1) as one Spark application.
  *
  * Config validation → extraction (one task per recording, per-subject
  * failure isolation) → per-subject contract validation (whole-subject
  * reject) → partitioned warehouse load (dynamic overwrite) → model DAG with
  * interleaved data tests (V7 fail-fast) → marts materialized.
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

  /** Run extraction + load + transform over the given recordings. */
  def run(spark: SparkSession, cfg: JobConfig, refs: Seq[RecordingRef]): JobReport = {
    validateConfig(cfg)
    val wh = new Warehouse(spark, cfg.warehouseDir)

    // Extract once; persist the combined result so the epoch/error split
    // doesn't recompute the signal kernels.
    val metrics = Ingest.ExtractMetrics(spark)
    val extracted =
      Ingest.extract(spark, refs, Some(metrics), cfg.lenient).persist()
    try {
      val (validEpochs, contractErrors) =
        Validation.validateBySubject(Ingest.epochsOf(extracted))
      val parseErrors = Ingest.errorsOf(extracted)

      val allErrors = parseErrors.unionByName(contractErrors)
      // SALVAGE_WARNING rows are observability, not failures: the subject's
      // epochs were extracted (contract validation may still drop them,
      // which shows up as its own row). Log every row (warnings stay queryable in
      // INGESTION_ERRORS) but count only real failures toward the
      // all-failed abort and the report.
      val counts = allErrors.agg(
        count_distinct(when(col("error_type") =!= Ingest.SalvageWarningType,
          col("subject_id"))).as("failed"),
        count(lit(1)).as("rows")).head()
      val nFailed = counts.getLong(0)
      if (counts.getLong(1) > 0) wh.logErrors(allErrors)

      // All-failed ⇒ abort before transform (pipeline.py:259-260).
      if (nFailed.toInt >= refs.size)
        throw new IllegalStateException(
          s"all $nFailed subjects failed extraction; aborting transform")

      wh.loadEpochs(validEpochs, overwrite = true)
      val epochsLoaded = wh.readEpochs().count()
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
    * materialized, data tests interleave fail-fast. `sleep_metrics` feeds
    * both marts, so it is cached for the duration of the two writes —
    * mirroring dbt building the shared intermediate once.
    */
  def transform(spark: SparkSession, epochs: DataFrame, gapEpochs: Int,
      outDir: String): Map[String, Long] = {
    val staged = SleepModels.staging(epochs)
    Validation.requireAll(Validation.stagingChecks(staged))

    val metrics = SleepModels.sleepMetrics(staged, gapEpochs).persist()
    try {
      metrics.write.mode("overwrite").parquet(s"$outDir/sleep_metrics")

      val summary = SleepModels.sleepSummary(metrics)
      Validation.requireAll(Validation.summaryChecks(summary))
      summary.write.mode("overwrite").parquet(s"$outDir/sleep_summary")

      val features = SleepModels.sleepFeatures(metrics)
      features.write.mode("overwrite").parquet(s"$outDir/sleep_features")

      Map(
        "sleep_metrics" -> spark.read.parquet(s"$outDir/sleep_metrics").count(),
        "sleep_summary" -> spark.read.parquet(s"$outDir/sleep_summary").count(),
        "sleep_features" -> spark.read.parquet(s"$outDir/sleep_features").count())
    } finally metrics.unpersist()
  }
}
