package graft.api

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, countDistinct, lit, min, spark_partition_id, when}

import graft.{Schemas, SparkSpec}
import graft.ingest.{IngestError, JobRunner, SeedData}
import graft.warehouse.Warehouse

class SleepReadsSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tmpDir("reads")
    val wh = new Warehouse(spark, d)
    wh.loadEpochs(SeedData.dataFrame(spark, subjects = 2))
    JobRunner.transform(spark, wh.readEpochs(), gapEpochs = 120, d)
    d
  }

  test("dashboard reads: subjects, point summary, ordered epochs") {
    val reads = new SleepReads(spark, dir)
    assert(reads.subjects().collect().map(_.getInt(0)).toSeq == Seq(0, 1))

    val summary = reads.summaryFor(1).collect()
    assert(summary.length == 1)
    assert(summary(0).getAs[Double]("sleep_efficiency") > 0)

    val epochs = reads.epochsFor(0).collect()
    assert(epochs.nonEmpty)
    val idx = epochs.map(_.getAs[Int]("epoch_idx"))
    assert(idx.toSeq == idx.sorted.toSeq)
  }

  test("dashboard client transforms: in-period scope, onset re-basing, bands") {
    val reads = new SleepReads(spark, dir)

    // The chart scope is in-period epochs only (dashboard.py:168).
    val period = reads.sleepPeriodEpochsFor(0).collect()
    assert(period.nonEmpty)
    assert(period.forall(_.getAs[Boolean]("is_in_sleep_period")))

    // Hypnogram: x starts at 0 minutes (onset epoch), steps in halves, and
    // every stage maps to its reference ordinal (charts.py:10,25-27).
    val hyp = reads.hypnogramFor(0).collect()
    assert(hyp.length == period.length)
    val minutes = hyp.map(_.getAs[Double]("minutes_after_onset"))
    assert(minutes.head == 0.0, s"first point ${minutes.head}, want onset 0")
    assert(minutes.forall(m => m >= 0 && m * 2 == math.rint(m * 2)))
    hyp.foreach { r =>
      val pos = r.getAs[Int]("stage_position")
      assert(reads.StageOrder(pos) == r.getAs[String]("sleep_stage"))
    }

    // Band bars: 5 rows, one per band, carrying the summary's avg powers.
    val bands = reads.bandPowersFor(0).collect()
    assert(bands.map(_.getAs[String]("band")).toSeq ==
      Seq("Delta", "Theta", "Alpha", "Sigma", "Beta"))
    assert(bands.forall(r => !r.isNullAt(r.fieldIndex("power"))))
  }

  test("diagnostics counts clean seed data as clean") {
    val d = new SleepReads(spark, dir).diagnostics().head()
    assert(d.getAs[Long]("n_rows") > 0)
    assert(d.getAs[Long]("n_subjects") == 2)
    assert(d.getAs[Long]("invalid_stage_rows") == 0)
    // Seeded beta centre is -1 dB: negatives exist and are legal.
    assert(d.getAs[Long]("negative_delta_rows") == 0)
    assert(new SleepReads(spark, dir).sample(3).count() == 3)
  }

  test("point reads: one job per snapshot load, then none") {
    val reads = new SleepReads(spark, dir)
    val summaryReads: Seq[(String, () => DataFrame)] = Seq(
      "subjects" -> (() => reads.subjects()),
      "summaryFor" -> (() => reads.summaryFor(1)),
      "bandPowersFor" -> (() => reads.bandPowersFor(0)))
    val epochReads: Seq[(String, () => DataFrame)] = Seq(
      "hypnogramFor" -> (() => reads.hypnogramFor(0)),
      "epochsFor" -> (() => reads.epochsFor(0)),
      "sleepPeriodEpochsFor" -> (() => reads.sleepPeriodEpochsFor(0)))
    // The first read of each mart on a fresh reader loads its snapshot in
    // one job; every later one, in any order, runs none. The count wraps
    // the read call too, because the snapshot loads when a read is called.
    Seq(summaryReads, epochReads).foreach { group =>
      (group ++ group.reverse).zipWithIndex.foreach { case ((name, read), i) =>
        val (rows, jobs) = withJobs(read().collect())
        assert(rows.nonEmpty, s"$name returned no rows")
        val want = if (i == 0) 1 else 0
        assert(jobs == want, s"$name (read ${i + 1}) ran $jobs jobs, want $want")
      }
    }
  }

  /** The Spark formulas the snapshot reads replaced, over the marts in `d`. */
  private class SparkFormulas(d: String) {
    private val summary = spark.read.schema(Schemas.sleepSummary).parquet(s"$d/sleep_summary")
    def subjects(): DataFrame = summary.select("subject_id").coalesce(1).orderBy("subject_id")
    def summaryFor(s: Int): DataFrame = summary.filter(col("subject_id") === s)
    def bandPowersFor(s: Int): DataFrame = summaryFor(s).selectExpr(
      "stack(5, 'Delta', '0.5-4 Hz', avg_delta_power, 'Theta', '4-8 Hz', avg_theta_power, " +
        "'Alpha', '8-12 Hz', avg_alpha_power, 'Sigma', '12-16 Hz', avg_sigma_power, " +
        "'Beta', '16-30 Hz', avg_beta_power) as (band, hz_range, power)")

    private def metricsFor(s: Int): DataFrame =
      spark.read.schema(Schemas.sleepMetrics).parquet(s"$d/sleep_metrics")
        .filter(col("subject_id") === s)
    private def sortedSmall(df: DataFrame, by: String): DataFrame =
      df.coalesce(1).orderBy(by)
    def epochsFor(s: Int): DataFrame = sortedSmall(metricsFor(s)
      .select("epoch_idx", "sleep_stage", "is_in_sleep_period", "delta_moving_avg"), "epoch_idx")
    def sleepPeriodEpochsFor(s: Int): DataFrame =
      epochsFor(s).filter(col("is_in_sleep_period"))
    def hypnogramFor(s: Int): DataFrame = {
      val pos = Seq("W", "REM", "N1", "N2", "N3").zipWithIndex.foldLeft(lit(null).cast("int")) {
        case (acc, (stage, i)) => when(col("sleep_stage") === stage, lit(i)).otherwise(acc)
      }
      sortedSmall(metricsFor(s)
        .filter(col("is_in_sleep_period"))
        .select(
          ((col("epoch_idx") - col("sleep_onset_epoch_idx")) * 0.5).as("minutes_after_onset"),
          pos.as("stage_position"),
          col("sleep_stage")), "minutes_after_onset")
    }

    /** Asserts each epoch read of `reads` equals its formula for `s`. */
    def assertEpochReads(what: String, reads: SleepReads, s: Int): Unit = {
      assertSameRead(s"epochsFor($s)$what", reads.epochsFor(s), epochsFor(s))
      assertSameRead(s"sleepPeriodEpochsFor($s)$what", reads.sleepPeriodEpochsFor(s),
        sleepPeriodEpochsFor(s))
      assertSameRead(s"hypnogramFor($s)$what", reads.hypnogramFor(s), hypnogramFor(s))
    }
  }

  /** Asserts equal rows, row order and schema (names, types, nullability). */
  private def assertSameRead(what: String, got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema == want.schema, s"$what schema ${got.schema} != ${want.schema}")
    assert(got.collect().toSeq == want.collect().toSeq, s"$what rows differ")
  }

  test("snapshot reads equal the Spark formulas they replace") {
    val d = tmpDir("reads-equiv")
    val wh = new Warehouse(spark, d)
    wh.loadEpochs(SeedData.dataFrame(spark, subjects = 5))
    JobRunner.transform(spark, wh.readEpochs(), gapEpochs = 120, d)
    val reads = new SleepReads(spark, d)
    val ref = new SparkFormulas(d)

    assertSameRead("subjects", reads.subjects(), ref.subjects())
    val ids = ref.subjects().collect().map(_.getInt(0)).toSeq
    assert(ids.size == 5)
    (ids :+ 999).foreach { s =>
      assertSameRead(s"summaryFor($s)", reads.summaryFor(s), ref.summaryFor(s))
      assertSameRead(s"bandPowersFor($s)", reads.bandPowersFor(s), ref.bandPowersFor(s))
    }
    assert(reads.summaryFor(999).collect().isEmpty)
  }

  test("epoch snapshot reads equal the Spark formulas they replace") {
    val d = tmpDir("reads-epochs")
    val wh = new Warehouse(spark, d)
    val seed = SeedData.dataFrame(spark, subjects = 5)
    // Awake the whole recording: a null onset and no in-period epochs.
    val allWake = seed.filter(col("subject_id") === 0)
      .withColumn("subject_id", lit(99)).withColumn("stage", lit("W"))
    wh.loadEpochs(seed.unionByName(allWake))
    JobRunner.transform(spark, wh.readEpochs(), gapEpochs = 120, d)
    // The same marts with sleep_metrics rewritten round-robin into three
    // files, so every subject's rows span several files and partitions.
    val spread = tmpDir("reads-epochs-spread")
    Seq("sleep_summary", "sleep_metrics").foreach { mart =>
      val df = spark.read.parquet(s"$d/$mart")
      (if (mart == "sleep_metrics") df.repartition(3) else df)
        .write.mode("overwrite").parquet(s"$spread/$mart")
    }
    val partitionsPerSubject = spark.read.schema(Schemas.sleepMetrics)
      .parquet(s"$spread/sleep_metrics")
      .select(col("subject_id"), spark_partition_id().as("p"))
      .groupBy("subject_id").agg(countDistinct("p").as("n"))
      .agg(min("n")).head().getLong(0)
    assert(partitionsPerSubject > 1, "the spread copy keeps a subject in one partition")

    Seq(d, spread).foreach { root =>
      val reads = new SleepReads(spark, root)
      val ref = new SparkFormulas(root)
      val ids = ref.subjects().collect().map(_.getInt(0)).toSeq
      assert(ids.size == 6 && ids.contains(99))
      (ids :+ 999).foreach(s => ref.assertEpochReads(s" in $root", reads, s))
      assert(reads.epochsFor(99).collect().nonEmpty)
      assert(reads.hypnogramFor(99).collect().isEmpty)
      assert(reads.epochsFor(999).collect().isEmpty)
    }
  }

  test("a rewritten mart is re-read; a deleted one fails") {
    val d = tmpDir("reads-fresh")
    val wh = new Warehouse(spark, d)
    wh.loadEpochs(SeedData.dataFrame(spark, subjects = 2))
    JobRunner.transform(spark, wh.readEpochs(), gapEpochs = 120, d)
    val reads = new SleepReads(spark, d)
    assert(reads.subjects().collect().map(_.getInt(0)).toSeq == Seq(0, 1))
    assert(reads.summaryFor(1).collect().length == 1)
    assert(reads.bandPowersFor(1).collect().length == 5)
    assert(reads.epochsFor(1).collect().nonEmpty)
    assert(reads.sleepPeriodEpochsFor(1).collect().nonEmpty)
    assert(reads.hypnogramFor(1).collect().nonEmpty)

    // Same directory, different subjects: subject 1's epochs as subject 11.
    JobRunner.transform(spark, wh.readEpochs().filter(col("subject_id") === 1)
      .withColumn("subject_id", col("subject_id") + 10), gapEpochs = 120, d)
    val ref = new SparkFormulas(d)
    assertSameRead("subjects after rewrite", reads.subjects(), ref.subjects())
    assert(reads.subjects().collect().map(_.getInt(0)).toSeq == Seq(11))
    Seq(1, 11).foreach { s =>
      assertSameRead(s"summaryFor($s) after rewrite", reads.summaryFor(s), ref.summaryFor(s))
      assertSameRead(s"bandPowersFor($s) after rewrite", reads.bandPowersFor(s), ref.bandPowersFor(s))
    }
    assert(reads.summaryFor(11).collect().length == 1)
    assert(reads.summaryFor(1).collect().isEmpty)
    Seq(1, 11).foreach(s => ref.assertEpochReads(" after rewrite", reads, s))
    assert(reads.epochsFor(11).collect().nonEmpty)
    assert(reads.epochsFor(1).collect().isEmpty)

    Seq("sleep_summary", "sleep_metrics").foreach { m =>
      val mart = new Path(s"$d/$m")
      assert(mart.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(mart, true))
    }
    Seq[(String, () => DataFrame)](
      "subjects" -> (() => reads.subjects()),
      "summaryFor" -> (() => reads.summaryFor(11)),
      "bandPowersFor" -> (() => reads.bandPowersFor(11)),
      "epochsFor" -> (() => reads.epochsFor(11)),
      "sleepPeriodEpochsFor" -> (() => reads.sleepPeriodEpochsFor(11)),
      "hypnogramFor" -> (() => reads.hypnogramFor(11))).foreach { case (name, read) =>
      withClue(name)(intercept[java.io.FileNotFoundException](read().collect()))
    }
  }

  test("hypnogram onset is the first in-period epoch, and empty without a sleep period") {
    val d = tmpDir("reads-onset")
    val wh = new Warehouse(spark, d)
    val seed = SeedData.dataFrame(spark)
    // A subject awake the whole recording has no sleep episode, so no
    // stored onset and no in-period epochs.
    val allWake = seed.filter(col("subject_id") === 0)
      .withColumn("subject_id", lit(99)).withColumn("stage", lit("W"))
    wh.loadEpochs(seed.unionByName(allWake))
    JobRunner.transform(spark, wh.readEpochs(), gapEpochs = 120, d)
    val reads = new SleepReads(spark, d)

    /** The window formula the stored onset replaced: the onset is the min
      * `epoch_idx` over the subject's in-period epochs.
      */
    def byWindowOnset(subjectId: Int): Seq[Row] =
      reads.sleepPeriodEpochsFor(subjectId)
        .withColumn("onset_idx", min("epoch_idx").over(Window.partitionBy(lit(1))))
        .select(((col("epoch_idx") - col("onset_idx")) * 0.5).as("m"), col("sleep_stage"))
        .orderBy("m").collect().toSeq.map { r =>
          val pos = reads.StageOrder.indexOf(r.getString(1))
          Row(r.getDouble(0), if (pos < 0) null else pos, r.getString(1))
        }

    val seedSubjects = seed.select("subject_id").distinct().collect().map(_.getInt(0)).sorted
    assert(seedSubjects.nonEmpty)
    seedSubjects.foreach { s =>
      val hyp = reads.hypnogramFor(s).collect().toSeq
      assert(hyp.nonEmpty, s"subject $s has no hypnogram")
      assert(hyp == byWindowOnset(s), s"subject $s hypnogram differs from the window onset")
    }
    assert(reads.hypnogramFor(99).collect().isEmpty)
    assert(byWindowOnset(99).isEmpty)
  }

  test("latestErrors returns the newest n error rows, newest first") {
    import spark.implicits._
    val d = tmpDir("reads-errors")
    val wh = new Warehouse(spark, d)
    // Three error logs, oldest first; each stamps all its rows with one
    // `occurred_at`, so the subject ids say which log a row came from.
    Seq(0 until 8, 10 until 13, 20 until 21).foreach(ids =>
      wh.logErrors(ids.map(IngestError(_, "T", "m", "s")).toDF()))
    val stamps = wh.readErrors().groupBy("subject_id").agg(min("occurred_at"))
      .collect().map(r => r.getInt(0) -> r.getTimestamp(1)).toMap
    assert(stamps(0).before(stamps(10)) && stamps(10).before(stamps(20)))

    val reads = new SleepReads(spark, d)
    def latest(rows: Array[Row]): Seq[(Int, java.sql.Timestamp)] =
      rows.toSeq.map(r => (r.getAs[Int]("subject_id"), r.getAs[java.sql.Timestamp]("occurred_at")))
    val four = latest(reads.latestErrors(4).collect())
    assert(four.map(_._1).head == 20)
    assert(four.map(_._1).toSet == Set(20, 10, 11, 12))
    assert(four.map(_._2) == four.map(_._2).sortBy(-_.getTime))
    // The default is 10: all of the two newest logs, then 6 of the oldest.
    val all = latest(reads.latestErrors().collect())
    assert(all.length == 10)
    assert(all.map(_._1).take(4).toSet == Set(20, 10, 11, 12))
    assert(all.drop(4).forall { case (s, _) => s < 8 })
    assert(all.map(_._2) == all.map(_._2).sortBy(-_.getTime))
  }
}
