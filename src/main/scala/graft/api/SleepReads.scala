package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Schemas
import graft.warehouse.Warehouse

/** The engine's read surface: the reference dashboard's three queries
  * (S11, `viz/dashboard.py:94-125`) and the verify-db diagnostics (S12,
  * `scripts/verify_db.py:16-39`), as an API over the materialized marts.
  *
  * Unlike `sleep_epochs`, the marts are not partitioned by `subject_id`
  * directory: the model DAG writes them hash-partitioned by subject into
  * one file per shuffle partition, so a point read scans every file of
  * its mart. The `subject_id` predicate is pushed into the parquet scan
  * (row groups whose statistics exclude the subject are skipped), and
  * Catalyst prunes columns to the selected set (the hypnogram reads 5 of
  * 18 metric columns).
  *
  * Each point read runs as one Spark job with no exchange: the marts are
  * read with their declared schemas (no schema-inference job), and each
  * result is small enough to sort in one partition (no range-partitioning
  * sample job or shuffle).
  */
final class SleepReads(spark: SparkSession, warehouseDir: String) {

  /** A mart read with its declared schema, whose field order is the
    * on-disk order (pinned by `SchemasSpec`).
    */
  private def mart(name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$warehouseDir/$name")

  private def summary = mart("sleep_summary", Schemas.sleepSummary)

  private def metricsFor(subjectId: Int): DataFrame =
    mart("sleep_metrics", Schemas.sleepMetrics)
      .filter(col("subject_id") === subjectId)

  /** Sorts a small result in one partition: a single-partition child
    * satisfies the sort's distribution, so no range exchange is planned.
    */
  private def sortedSmall(df: DataFrame, by: String): DataFrame =
    df.coalesce(1).orderBy(by)

  /** Subject list (`dashboard.py:94-96`). */
  def subjects(): DataFrame =
    sortedSmall(summary.select("subject_id"), "subject_id")

  /** One summary row (`dashboard.py:110-112`). */
  def summaryFor(subjectId: Int): DataFrame =
    summary.filter(col("subject_id") === subjectId)

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
    val stacked = bands.map { case (name, colName, hz) =>
      s"'$name', '$hz', $colName"
    }.mkString(", ")
    summaryFor(subjectId)
      .selectExpr(s"stack(${bands.size}, $stacked) as (band, hz_range, power)")
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
