package graft.warehouse

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet warehouse with per-subject atomic replace — the Spark-native
  * restatement of the reference's `WarehouseClient` protocol (SURVEY §2.2):
  *
  *  - D1 per-subject overwrite (DuckDB DELETE+INSERT txn,
  *    `duckdb_client.py:100-111`) → dynamic partition overwrite of the
  *    `subject_id=` partition: Spark's commit protocol stages to a temp
  *    location and swaps on commit, so readers never observe a half-loaded
  *    subject — the same observable guarantee as the reference's rollback
  *    (D5) without multi-table transactions;
  *  - D2 append, D3 truncate, D4 single-error append with generated
  *    uuid/timestamp defaults (`duckdb_client.py:123-143`).
  *
  * `sleep_epochs` is partitioned by subject_id directory, so a subject
  * predicate on it prunes to one directory. The marts the dashboard reads
  * (S11) are written by the model DAG as hash-partitioned files, not
  * directories; their point reads scan every file of the mart.
  */
final class Warehouse(spark: SparkSession, root: String) {

  val epochsPath = s"$root/sleep_epochs"
  val errorsPath = s"$root/ingestion_errors"

  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  /** SLEEP_EPOCHS schema incl. the LOAD_TIMESTAMP default
    * (`duckdb_client.py:33-45`).
    */
  def loadEpochs(epochs: DataFrame, overwrite: Boolean = true): Unit = {
    val withDefaults = epochs.select(
      col("subject_id").cast("int"),
      col("epoch_idx").cast("int"),
      col("stage").cast("string"),
      col("delta_power").cast("double"),
      col("theta_power").cast("double"),
      col("alpha_power").cast("double"),
      col("sigma_power").cast("double"),
      col("beta_power").cast("double"),
      current_timestamp().as("load_timestamp"))
    withDefaults.write
      .partitionBy("subject_id")
      // Dynamic mode: Overwrite replaces ONLY the partitions present in the
      // incoming frame (the loaded subjects), never the whole table.
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Append)
      .parquet(epochsPath)
  }

  def readEpochs(): DataFrame = spark.read.parquet(epochsPath)

  /** Bucketed variant: persists SLEEP_EPOCHS as a catalog table bucketed
    * (and sorted) by subject_id. Every model window and summary aggregation
    * keys on subject_id, so reads from this table skip the shuffle AND the
    * sort entirely — at cluster scale that's the difference between
    * re-shuffling 100 TB per model run and reading co-located buckets.
    * Requires a catalog (spark.sql.warehouse.dir); the plain parquet path
    * above stays the default for catalog-less deployments.
    */
  def loadEpochsBucketed(epochs: DataFrame, table: String = "sleep_epochs_bucketed",
      buckets: Int = 32): Unit = {
    epochs.select(
      col("subject_id").cast("int"),
      col("epoch_idx").cast("int"),
      col("stage").cast("string"),
      col("delta_power").cast("double"),
      col("theta_power").cast("double"),
      col("alpha_power").cast("double"),
      col("sigma_power").cast("double"),
      col("beta_power").cast("double"),
      current_timestamp().as("load_timestamp"))
      .write
      .bucketBy(buckets, "subject_id")
      .sortBy("subject_id", "epoch_idx")
      .mode(SaveMode.Overwrite)
      .saveAsTable(table)
  }

  def readEpochsBucketed(table: String = "sleep_epochs_bucketed"): DataFrame =
    spark.table(table)

  /** D3: `DELETE FROM SLEEP_EPOCHS` (`duckdb_client.py:115-121`). */
  def truncateEpochs(): Unit = {
    val p = new org.apache.hadoop.fs.Path(epochsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** D4: single-row error insert with uuid()/current_timestamp defaults
    * (`duckdb_client.py:123-143`). Accepts a frame of
    * (subject_id, error_type, error_message, stack_trace).
    */
  def logErrors(errors: DataFrame): Unit = {
    errors.select(
      expr("uuid()").as("error_id"),
      col("subject_id").cast("int"),
      col("error_type").cast("string"),
      col("error_message").cast("string"),
      col("stack_trace").cast("string"),
      current_timestamp().as("occurred_at"))
      .write.mode(SaveMode.Append).parquet(errorsPath)
  }

  def readErrors(): DataFrame = spark.read.parquet(errorsPath)

  /** Small-file compaction — the maintenance pass every long-lived parquet
    * warehouse needs at scale: per-subject incremental loads leave one-or-
    * few-row files per load (a 100 TB table accumulates millions), and scan
    * cost becomes file-open-bound instead of byte-bound. Rewrites the
    * epochs table so each subject partition holds `filesPerPartition`
    * files, preserving the partition layout (point reads still prune) and
    * the atomic-swap write protocol. Rows are untouched — compaction is a
    * physical re-layout, verified row-identical in `WarehouseSpec`.
    *
    * The whole table rewrites through ONE shuffle (the repartition); at
    * cluster scale run it per-partition-range instead via the same call on
    * a filtered frame + dynamic overwrite.
    */
  def compactEpochs(filesPerPartition: Int = 1): Unit = {
    val tmp = s"$epochsPath.compact.tmp"
    val fs = new org.apache.hadoop.fs.Path(epochsPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // One shuffle keyed by (subject, salt): every subject's rows land in at
    // most `filesPerPartition` tasks, so each partition directory gets at
    // most that many data files.
    spark.read.parquet(epochsPath)
      .withColumn("__salt",
        pmod(hash(col("epoch_idx")), lit(filesPerPartition)))
      .repartition(col("subject_id"), col("__salt"))
      .drop("__salt")
      .write.partitionBy("subject_id").mode(SaveMode.Overwrite).parquet(tmp)
    // Swap directories; readers opening mid-swap retry against the new
    // path's committed files (single-FS rename is atomic per directory).
    val tmpPath = new org.apache.hadoop.fs.Path(tmp)
    val livePath = new org.apache.hadoop.fs.Path(epochsPath)
    fs.delete(livePath, true)
    fs.rename(tmpPath, livePath)
  }

  /** Data files (not _SUCCESS/metadata) under the epochs table — the
    * observable compaction metric.
    */
  def epochsFileCount(): Long = {
    val p = new org.apache.hadoop.fs.Path(epochsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  def errorsExist(): Boolean = {
    val p = new org.apache.hadoop.fs.Path(errorsPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }
}
