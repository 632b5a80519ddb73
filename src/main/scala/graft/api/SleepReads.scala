package graft.api

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}

import graft.Schemas
import graft.warehouse.Warehouse

/** The engine's read surface: the reference dashboard's three queries
  * (S11, `viz/dashboard.py:94-125`) and the verify-db diagnostics (S12,
  * `scripts/verify_db.py:16-39`), as an API over the materialized marts.
  *
  * Every dashboard read is served from a snapshot the reader holds, as a
  * local `DataFrame` whose collect runs no Spark job and compiles no
  * per-subject code. The subject list, the summary row and the band bars
  * read a snapshot of `sleep_summary`, which has one row per subject. The
  * epoch reads (`epochsFor`, `sleepPeriodEpochsFor`, `hypnogramFor`) read
  * a snapshot of the six `sleep_metrics` columns they use, held as
  * primitive arrays sorted by (subject, `epoch_idx`) with a subject →
  * row-range index ([[EpochSnapshot]]), and build one subject's rows with
  * the formulas the Spark plans used.
  *
  * Before each read the reader lists the mart directory once; a snapshot
  * is keyed by its data files' (name, length, modification time) and
  * re-loaded, in one Spark job, only when that key changes. An overwrite
  * writes new part-file names, so a rewritten mart is never served from
  * old rows, and a deleted one fails the read. The snapshots live in this
  * instance only, so they are released with the reader.
  */
final class SleepReads(spark: SparkSession, warehouseDir: String) {

  /** A mart's contents loaded from its data files, re-loaded only when
    * the listed files change. The key and the value are published as one
    * pair: a concurrent reader sees the old pair or the new one.
    */
  private final class Snapshot[T](mart: String, empty: T)(load: Seq[String] => T) {
    private val dir = new Path(s"$warehouseDir/$mart")
    @volatile private var current: (Seq[(String, Long, Long)], T) = (null, empty)

    def apply(): T = {
      val files = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(dir).toSeq
        .filter { f =>
          val name = f.getPath.getName
          f.isFile && !name.startsWith("_") && !name.startsWith(".")
        }
        .sortBy(_.getPath.getName)
      val key = files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      val seen = current
      if (seen._1 == key) seen._2
      else {
        // Loads exactly the listed files, so the value belongs to the key.
        val value = if (files.isEmpty) empty else load(files.map(_.getPath.toString))
        current = (key, value)
        value
      }
    }
  }

  private val summary = new Snapshot("sleep_summary", Seq.empty[Row])(paths =>
    spark.read.schema(Schemas.sleepSummary).parquet(paths: _*).collect().toSeq)

  private val epochs = new Snapshot("sleep_metrics", EpochSnapshot.empty)(paths =>
    EpochSnapshot.load(spark.read.schema(Schemas.sleepMetrics).parquet(paths: _*)))

  private val subjectIdx = Schemas.sleepSummary.fieldIndex("subject_id")

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def rowsFor(subjectId: Int): Seq[Row] =
    summary().filter(r => !r.isNullAt(subjectIdx) && r.getInt(subjectIdx) == subjectId)

  /** Subject list (`dashboard.py:94-96`), ascending with nulls first. */
  def subjects(): DataFrame =
    local(summary().map(r => Option(r.get(subjectIdx)).map(_.asInstanceOf[Int]))
      .sorted.map(id => Row(id.getOrElse(null))),
      StructType(Seq(Schemas.sleepSummary(subjectIdx))))

  /** One summary row (`dashboard.py:110-112`). */
  def summaryFor(subjectId: Int): DataFrame =
    local(rowsFor(subjectId), Schemas.sleepSummary)

  private val epochSchema = StructType(
    Seq("epoch_idx", "sleep_stage", "is_in_sleep_period", "delta_moving_avg")
      .map(Schemas.sleepMetrics(_)))

  /** Ordered per-subject hypnogram + smoothed delta (`dashboard.py:113-125`),
    * ascending `epoch_idx` with nulls first.
    */
  def epochsFor(subjectId: Int): DataFrame = {
    val e = epochs()
    local(e.rowsOf(subjectId).map(e.epochRow), epochSchema)
  }

  /** Stage → y-axis position used by the reference hypnogram
    * (`viz/charts.py:10,25`: W, REM, N1, N2, N3 top-to-bottom).
    */
  val StageOrder: Seq[String] = Seq("W", "REM", "N1", "N2", "N3")

  /** The dashboard's client-side scope: epochs inside the scored sleep
    * period only (`viz/dashboard.py:168` filters before every chart); an
    * unknown `is_in_sleep_period` is out of scope.
    */
  def sleepPeriodEpochsFor(subjectId: Int): DataFrame = {
    val e = epochs()
    local(e.rowsOf(subjectId).filter(e.inSleepPeriod).map(e.epochRow), epochSchema)
  }

  private val hypnogramSchema = StructType(Seq(
    StructField("minutes_after_onset", DoubleType),
    StructField("stage_position", IntegerType),
    Schemas.sleepMetrics("sleep_stage")))

  /** Hypnogram series with the reference's client-side re-basing
    * (`viz/charts.py:27`): x = minutes after sleep onset, null without an
    * onset and first in order; y = the stage's ordinal in [[StageOrder]],
    * null for any other stage. The reference takes the onset as the
    * subject's first in-period epoch (`dashboard.py:188`, min epoch_idx);
    * that is always the mart's stored `sleep_onset_epoch_idx`, because the
    * sleep period is `epoch_idx between onset and final awakening` and so
    * starts at the onset epoch itself.
    */
  def hypnogramFor(subjectId: Int): DataFrame = {
    val e = epochs()
    local(e.rowsOf(subjectId).filter(e.inSleepPeriod)
      .map(i => (e.epochsAfterOnset(i), e.sleepStage(i)))
      .sortBy(_._1)
      .map { case (after, stage) =>
        val pos = StageOrder.indexOf(stage)
        Row(after.fold(null: Any)(_ * 0.5), if (pos < 0) null else pos, stage)
      }, hypnogramSchema)
  }

  /** Band-power bars (`viz/charts.py:12-18` BANDS): the five avg_*_power
    * summary columns unpivoted to (band, hz_range, power) rows.
    */
  def bandPowersFor(subjectId: Int): DataFrame = {
    val bands = Seq(
      ("Delta", "avg_delta_power", "0.5-4 Hz"),
      ("Theta", "avg_theta_power", "4-8 Hz"),
      ("Alpha", "avg_alpha_power", "8-12 Hz"),
      ("Sigma", "avg_sigma_power", "12-16 Hz"),
      ("Beta", "avg_beta_power", "16-30 Hz"))
    local(rowsFor(subjectId).flatMap { r =>
      bands.map { case (name, colName, hz) => Row(name, hz, r.getAs[Any](colName)) }
    }, StructType(Seq(
      StructField("band", StringType),
      StructField("hz_range", StringType),
      Schemas.sleepSummary("avg_delta_power").copy(name = "power"))))
  }

  /** Latest errors (`scripts/simulate_error.py:52`). */
  def latestErrors(n: Int = 10): DataFrame =
    new Warehouse(spark, warehouseDir).readErrors()
      .orderBy(col("occurred_at").desc).limit(n)

  /** verify_db.py diagnostics: row count, subject count, sample rows, and
    * the two data-quality counters (invalid stages, negative delta power —
    * `verify_db.py:21-39`).
    */
  def diagnostics(): DataFrame = {
    val epochs = new Warehouse(spark, warehouseDir).readEpochs()
    epochs.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("subject_id")).as("n_subjects"),
      sum(when(col("stage").isin("MOVE", "NAN"), 1).otherwise(0))
        .as("invalid_stage_rows"),
      sum(when(col("delta_power") < 0, 1).otherwise(0))
        .as("negative_delta_rows"))
  }

  def sample(n: Int = 5): DataFrame =
    new Warehouse(spark, warehouseDir).readEpochs().limit(n)
}
