package graft.api

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, min}

import graft.SparkSpec
import graft.ingest.{JobRunner, SeedData}
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

  /** Walks executed plans through adaptive plans and query stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  /** `f`'s result and the Spark jobs it started, counted by a listener on
    * a job group. A sentinel job runs after `f`: listener events arrive in
    * order, so once the sentinel's start is seen every job of `f` has been
    * counted.
    */
  private def withJobs[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("reads-under-test", "point read")
      val result = try f finally sc.clearJobGroup()
      sc.setJobGroup("reads-sentinel", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("reads-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("reads-sentinel"), "listener never saw the sentinel job")
      (result, groups.asScala.count(_ == "reads-under-test"))
    } finally sc.removeSparkListener(listener)
  }

  test("each dashboard point read is one Spark job with no exchange or window") {
    val reads = new SleepReads(spark, dir)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "subjects" -> (() => reads.subjects()),
      "summaryFor" -> (() => reads.summaryFor(1)),
      "hypnogramFor" -> (() => reads.hypnogramFor(0)),
      "bandPowersFor" -> (() => reads.bandPowersFor(0)),
      "epochsFor" -> (() => reads.epochsFor(0)))
    cases.foreach { case (name, read) =>
      val df = read()
      val (rows, jobs) = withJobs(df.collect())
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(jobs == 1, s"$name ran $jobs jobs, want 1")
      val plan = df.queryExecution.executedPlan
      val exchanges = Plans.collect(plan) { case e: Exchange => e.nodeName }
      val windows = Plans.collect(plan) { case w: WindowExecBase => w.nodeName }
      assert(exchanges.isEmpty && windows.isEmpty,
        s"$name plans exchanges $exchanges and windows $windows:\n$plan")
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
}
