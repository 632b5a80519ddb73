package graft.api

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Schemas
import graft.warehouse.Warehouse

/** The engine's read surface: the reference dashboard's three queries
  * (S11, `viz/dashboard.py:94-125`) and the verify-db diagnostics (S12,
  * `scripts/verify_db.py:16-39`), as an API over the materialized marts.
  *
  * The subject list, the summary row and the band bars all read
  * `sleep_summary`, which has one row per subject. A reader holds one
  * snapshot of its rows and serves those three reads from it as local
  * `DataFrame`s, whose collect runs no Spark job. Before each of the three
  * reads the reader lists the mart directory once; the snapshot is keyed
  * by its data files' (name, length, modification time) and re-read only
  * when that key changes. An overwrite writes new part-file names, so a
  * rewritten mart is never served from old rows, and a deleted one fails
  * the read. The snapshot lives in this instance only, so it is released
  * with the reader.
  *
  * The epoch reads (`epochsFor`, `sleepPeriodEpochsFor`, `hypnogramFor`)
  * stay on Spark. `sleep_metrics` is not partitioned by `subject_id`
  * directory: the model DAG writes it hash-partitioned by subject into
  * one file per shuffle partition, so a point read scans every file. The
  * `subject_id` predicate is pushed into the parquet scan (row groups
  * whose statistics exclude the subject are skipped), and Catalyst prunes
  * columns to the selected set (the hypnogram reads 5 of 18 metric
  * columns). Each runs as one Spark job with no exchange: the mart is
  * read with its declared schema (no schema-inference job), and the
  * result is small enough to sort in one partition (no range-partitioning
  * sample job or shuffle).
  */
final class SleepReads(spark: SparkSession, warehouseDir: String) {

  /** A mart read with its declared schema, whose field order is the
    * on-disk order (pinned by `SchemasSpec`).
    */
  private def mart(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$warehouseDir/$name")

  private def metricsFor(subjectId: Int): DataFrame =
    mart("sleep_metrics", Schemas.sleepMetrics)
      .filter(col("subject_id") === subjectId)

  /** Sorts a small result in one partition: a single-partition child
    * satisfies the sort's distribution, so no range exchange is planned.
    */
  private def sortedSmall(df: DataFrame, by: String): DataFrame =
    df.coalesce(1).orderBy(by)

  private val summaryDir = new Path(s"$warehouseDir/sleep_summary")
  private val subjectIdx = Schemas.sleepSummary.fieldIndex("subject_id")

  /** The `sleep_summary` rows and the (name, length, modification time)
    * of the data files they were read from, published as one pair: a
    * concurrent reader sees the old pair or the new one.
    */
  @volatile private var snapshot: (Seq[(String, Long, Long)], Seq[Row]) = (null, Nil)

  /** The mart's rows, re-read only when its listed data files changed. */
  private def summaryRows(): Seq[Row] = {
    val files = summaryDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(summaryDir).toSeq
      .filter { f =>
        val name = f.getPath.getName
        f.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
      .sortBy(_.getPath.getName)
    val key = files.map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
    val current = snapshot
    if (current._1 == key) current._2
    else {
      // Reads exactly the listed files, so the rows belong to the key.
      val rows = if (files.isEmpty) Nil else spark.read.schema(Schemas.sleepSummary)
        .parquet(files.map(_.getPath.toString): _*).collect().toSeq
      snapshot = (key, rows)
      rows
    }
  }

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def rowsFor(subjectId: Int): Seq[Row] =
    summaryRows().filter(r => !r.isNullAt(subjectIdx) && r.getInt(subjectIdx) == subjectId)

  /** Subject list (`dashboard.py:94-96`), ascending with nulls first. */
  def subjects(): DataFrame =
    local(summaryRows().map(r => Option(r.get(subjectIdx)).map(_.asInstanceOf[Int]))
      .sorted.map(id => Row(id.getOrElse(null))),
      StructType(Seq(Schemas.sleepSummary(subjectIdx))))

  /** One summary row (`dashboard.py:110-112`). */
  def summaryFor(subjectId: Int): DataFrame =
    local(rowsFor(subjectId), Schemas.sleepSummary)

  /** Ordered per-subject hypnogram + smoothed delta (`dashboard.py:113-125`). */
  def epochsFor(subjectId: Int): DataFrame =
    sortedSmall(metricsFor(subjectId)
      .select("epoch_idx", "sleep_stage", "is_in_sleep_period",
        "delta_moving_avg"), "epoch_idx")

  /** Stage → y-axis position used by the reference hypnogram
    * (`viz/charts.py:10,25`: W, REM, N1, N2, N3 top-to-bottom).
    */
  val StageOrder: Seq[String] = Seq("W", "REM", "N1", "N2", "N3")

  /** The dashboard's client-side scope: epochs inside the scored sleep
    * period only (`viz/dashboard.py:168` filters before every chart).
    */
  def sleepPeriodEpochsFor(subjectId: Int): DataFrame =
    epochsFor(subjectId).filter(col("is_in_sleep_period"))

  /** Hypnogram series with the reference's client-side re-basing
    * (`viz/charts.py:27`): x = minutes after sleep onset; y = the stage's
    * ordinal in [[StageOrder]]. The reference takes the onset as the
    * subject's first in-period epoch (`dashboard.py:188`, min epoch_idx);
    * that is always the mart's stored `sleep_onset_epoch_idx`, because the
    * sleep period is `epoch_idx between onset and final awakening` and so
    * starts at the onset epoch itself.
    */
  def hypnogramFor(subjectId: Int): DataFrame = {
    val pos = StageOrder.zipWithIndex.foldLeft(lit(null).cast("int")) {
      case (acc, (s, i)) => when(col("sleep_stage") === s, lit(i)).otherwise(acc)
    }
    sortedSmall(metricsFor(subjectId)
      .filter(col("is_in_sleep_period"))
      .select(
        ((col("epoch_idx") - col("sleep_onset_epoch_idx")) * 0.5)
          .as("minutes_after_onset"),
        pos.as("stage_position"),
        col("sleep_stage")), "minutes_after_onset")
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
