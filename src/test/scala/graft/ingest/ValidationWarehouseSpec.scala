package graft.ingest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Schemas, SparkSpec}
import graft.warehouse.Warehouse

class ValidationSpec extends SparkSpec {
  import spark.implicits._

  private def epoch(subject: Int, idx: Int, stage: String = "N2",
      delta: Double = 15.0) =
    SleepEpoch(subject, idx, stage, delta, 14.2, 8.0, 1.2, 2.5)

  test("valid rows pass the contract") {
    assert(Validation.contractError(1, Seq(epoch(1, 100))).isEmpty)
  }

  test("NaN power rejects the whole subject, healthy subjects survive") {
    val rows = Seq(
      epoch(1, 0), epoch(1, 1, delta = Double.NaN),
      epoch(2, 0), epoch(2, 1))
    val verdicts = rows.groupBy(_.subject_id).map { case (s, rs) =>
      s -> Validation.contractError(s, rs) }
    assert(verdicts.collect { case (s, None) => s }.toSet == Set(2))
    val err = verdicts.values.flatten.toSeq
    assert(err.length == 1 && err(0).subject_id == 1)
    assert(err(0).error_type == "SchemaErrors")
  }

  test("invalid stage label is a violation; negative dB is not") {
    val bad = Validation.contractError(1, Seq(epoch(1, 0, stage = "SLEEPING")))
    assert(bad.map(_.error_message).contains("epoch contract violations: 1"))
    assert(Validation.contractError(1, Seq(epoch(1, 0, delta = -5.5))).isEmpty)
  }

  test("requireAll throws on the first failing check (fail-fast V7)") {
    val staged = graft.sleep.SleepModels.staging(
      Seq(epoch(1, 0), epoch(1, 0)).toDF()) // duplicate epoch_id
    val e = intercept[IllegalStateException] {
      Validation.requireAll(Validation.stagingChecks(staged))
    }
    assert(e.getMessage.contains("staging_unique_epoch_id"))
  }

  /** A model frame of `schema`: one row per override map, every other
    * column taken from `base`.
    */
  private def frame(schema: StructType, base: Map[String, Any],
      rows: Seq[Map[String, Any]]): DataFrame = spark.createDataFrame(
    rows.map(r => Row.fromSeq(schema.fieldNames.toSeq.map((base ++ r)(_)))).asJava,
    schema)

  private val stagingBase: Map[String, Any] = Map("subject_id" -> 1,
    "epoch_idx" -> 0, "sleep_stage" -> "N2") ++
    Seq("delta", "theta", "alpha", "sigma", "beta").map(b => s"${b}_power_uv" -> 1.0f)
  /** A healthy summary row: TST ≤ period, shares sum to 1, efficiency 0.8. */
  private val summaryBase: Map[String, Any] =
    Schemas.sleepSummary.fieldNames.map(_ -> 1.0).toMap ++ Map(
      "number_of_awakenings" -> 3L, "sleep_period_minutes" -> 420.0,
      "total_sleep_minutes" -> 400.0, "sleep_efficiency" -> 0.8,
      "deep_sleep_percentage" -> 0.2, "light_sleep_percentage" -> 0.6,
      "rem_sleep_percentage" -> 0.2)

  private def staged(rows: Map[String, Any]*) =
    Validation.stagingChecks(frame(Schemas.staging, stagingBase, rows))
  private def summary(rows: Map[String, Any]*) =
    Validation.summaryChecks(frame(Schemas.sleepSummary, summaryBase, rows))
  private def epoch(i: Int, kv: (String, Any)*) = Map("epoch_id" -> s"1-$i") ++ kv
  private def subject(i: Int, kv: (String, Any)*) = Map("subject_id" -> i) ++ kv
  private def only(name: String, battery: Validation.Tests) =
    battery.copy(tests = battery.tests.filter(_._1 == name))

  test("each data test fails alone with its name and violation count") {
    val cases: Seq[(String, Validation.Tests, Option[String])] = Seq(
      // One planted violation per test, in declaration order.
      ("null power", staged(epoch(0), epoch(1, "delta_power_uv" -> null)),
        Some("staging_not_null (1 violations)")),
      ("key 3x is one violation", staged(epoch(0), epoch(1), epoch(1), epoch(1)),
        Some("staging_unique_epoch_id (1 violations)")),
      ("unknown stage", staged(epoch(0), epoch(1, "sleep_stage" -> "MOVE")),
        Some("staging_accepted_stages (1 violations)")),
      ("duplicate subject", summary(subject(1), subject(1)),
        Some("summary_unique_subject (1 violations)")),
      ("TST above period", summary(subject(1), subject(2, "total_sleep_minutes" -> 430.0)),
        Some("summary_tst_le_period (1 violations)")),
      ("shares sum to 1.1", summary(subject(1), subject(2, "rem_sleep_percentage" -> 0.3)),
        Some("summary_shares_sum_to_1 (1 violations)")),
      ("efficiency 1.5", summary(subject(1), subject(2, "sleep_efficiency" -> 1.5)),
        Some("summary_efficiency_range (1 violations)")),
      // Counts, order and nulls.
      ("two unknown stages", staged(epoch(0, "sleep_stage" -> "NAN"),
        epoch(1, "sleep_stage" -> "X")), Some("staging_accepted_stages (2 violations)")),
      ("first failing test wins", staged(epoch(0), epoch(0, "epoch_idx" -> null)),
        Some("staging_not_null (1 violations)")),
      ("null keys form one group", summary(subject(1, "subject_id" -> null),
        subject(2, "subject_id" -> null)), Some("summary_unique_subject (1 violations)")),
      ("null TST is not true", summary(subject(1, "total_sleep_minutes" -> null)),
        Some("summary_tst_le_period (1 violations)")),
      ("null efficiency passes", summary(subject(1, "sleep_efficiency" -> null)), None),
      ("null stage passes accepted_values", only("staging_accepted_stages",
        staged(epoch(0, "sleep_stage" -> null))), None),
      ("empty staging passes", staged(), None),
      ("empty summary passes", summary(), None))
    cases.foreach { case (name, battery, want) =>
      val got = try { Validation.requireAll(battery); None } catch {
        case e: IllegalStateException => Some(e.getMessage)
      }
      assert(got == want.map("data test failed: " + _), name)
    }
  }
}

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private def epochs(subject: Int, n: Int, tag: Double = 0.0) =
    (0 until n).map(i =>
      SleepEpoch(subject, i, "N2", 15.0 + tag, 14.2, 8.0, 1.2, 2.5)).toDF()

  test("per-subject dynamic overwrite replaces only that subject (D1)") {
    val wh = new Warehouse(spark, tmpDir("wh"))
    wh.loadEpochs(epochs(1, 10).union(epochs(2, 20)))
    assert(wh.readEpochs().count() == 30)

    // Reload subject 1 with different content; subject 2 untouched.
    wh.loadEpochs(epochs(1, 5, tag = 1.0))
    val after = wh.readEpochs()
    assert(after.filter($"subject_id" === 1).count() == 5)
    assert(after.filter($"subject_id" === 2).count() == 20)
    assert(after.filter($"subject_id" === 1)
      .head().getAs[Double]("delta_power") == 16.0)
  }

  test("append mode keeps existing rows (D2)") {
    val wh = new Warehouse(spark, tmpDir("wh-append"))
    wh.loadEpochs(epochs(1, 10))
    wh.loadEpochs(epochs(1, 10), overwrite = false)
    assert(wh.readEpochs().count() == 20)
  }

  test("truncate removes everything (D3)") {
    val wh = new Warehouse(spark, tmpDir("wh-trunc"))
    wh.loadEpochs(epochs(1, 10))
    wh.truncateEpochs()
    intercept[Exception](wh.readEpochs().count()) // path gone = empty table
  }

  test("error log rows get uuid and timestamp defaults (D4)") {
    val wh = new Warehouse(spark, tmpDir("wh-err"))
    wh.logErrors(Seq(
      IngestError(7, "FileNotFoundError", "missing PSG", "trace...")).toDF())
    val rows = wh.readErrors().collect()
    assert(rows.length == 1)
    val r = rows(0)
    assert(r.getAs[String]("error_id").matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"))
    assert(r.getAs[java.sql.Timestamp]("occurred_at") != null)
    assert(r.getAs[Int]("subject_id") == 7)
  }

  test("load timestamps are populated (SLEEP_EPOCHS default)") {
    val wh = new Warehouse(spark, tmpDir("wh-ts"))
    wh.loadEpochs(epochs(3, 2))
    assert(wh.readEpochs().filter($"load_timestamp".isNull).count() == 0)
  }

  test("compaction collapses per-load small files, rows identical") {
    val wh = new Warehouse(spark, tmpDir("wh-compact"))
    // Ten incremental appends per subject — the small-file pathology: each
    // append leaves its own file(s) in every partition directory.
    (0 until 10).foreach { i =>
      wh.loadEpochs(epochs(1, 3, tag = i).union(epochs(2, 3, tag = i)),
        overwrite = i == 0)
    }
    val before = wh.readEpochs().orderBy("subject_id", "epoch_idx", "delta_power")
      .drop("load_timestamp").collect()
    val filesBefore = wh.epochsFileCount()
    assert(filesBefore >= 20, s"expected >=20 small files, got $filesBefore")

    wh.compactEpochs(filesPerPartition = 1)
    val filesAfter = wh.epochsFileCount()
    assert(filesAfter <= 2, s"expected <=1 file per subject dir, got $filesAfter")
    // Physical re-layout only: the row multiset is untouched.
    val after = wh.readEpochs().orderBy("subject_id", "epoch_idx", "delta_power")
      .drop("load_timestamp").collect()
    assert(after.toSeq == before.toSeq)
    // Partition layout preserved: point reads still prune.
    assert(wh.readEpochs().filter($"subject_id" === 2).count() == 30)
  }
}

class JobRunnerSpec extends SparkSpec {
  /** Jobs of one batch over 2 healthy recordings and 1 corrupt one, and
    * how many of them run data tests. Each extraction task applies the row
    * contract to its subject, so the error collect and the epochs load each
    * run one job over the persisted extraction, with no per-subject
    * aggregate or anti-join of their own.
    */
  private val JobBudget = 14
  private val DataTestJobs = 4

  test("full pipeline: extract, validate, load, transform, marts + errors") {
    val dir = tmpDir("job")
    val refs = SyntheticSource.writeRecordings(s"$dir/raw", 2)
    val badPath = s"$dir/raw/corrupt.edf"
    java.nio.file.Files.write(java.nio.file.Paths.get(badPath),
      "garbage".getBytes)
    val all = refs :+ RecordingRef(42, badPath, badPath)

    val report = JobRunner.run(spark,
      JobRunner.JobConfig(0, 3, s"$dir/warehouse"),
      all)

    assert(report.subjectsFailed == 1)
    assert(report.epochsLoaded > 2000) // 2 subjects × ~1150 valid epochs
    assert(report.martRows("sleep_summary") == 2)
    assert(report.martRows("sleep_metrics") == report.epochsLoaded)

    val wh = new Warehouse(spark, s"$dir/warehouse")
    val errs = wh.readErrors().collect()
    assert(errs.length == 1 && errs(0).getAs[Int]("subject_id") == 42)

    // Marts respect the dbt invariants (V5/V6).
    val summary = spark.read.parquet(s"$dir/warehouse/sleep_summary")
    Validation.requireAll(Validation.summaryChecks(summary))
  }

  test("the batch runs a pinned number of jobs; its row counts match a re-read") {
    val dir = tmpDir("job-budget")
    val refs = SyntheticSource.writeRecordings(s"$dir/raw", 2)
    val badPath = s"$dir/raw/corrupt.edf"
    java.nio.file.Files.write(java.nio.file.Paths.get(badPath), "garbage".getBytes)
    val (report, sites) = withJobSites(JobRunner.run(spark,
      JobRunner.JobConfig(0, 3, s"$dir/warehouse"),
      refs :+ RecordingRef(42, badPath, badPath)))
    val dataTests = sites.count(_.contains("Validation$.requireAll"))
    // Each battery is one grouped aggregate; each mart and the epochs load
    // are counted by their writes, with no re-read.
    assert((sites.size, dataTests) == ((JobBudget, DataTestJobs)),
      sites.map(_.linesIterator.take(3).mkString(" | ")).mkString("\n"))
    Seq("sleep_metrics", "sleep_summary", "sleep_features").foreach { m =>
      assert(report.martRows(m) == spark.read.parquet(s"$dir/warehouse/$m").count(), m)
    }
    assert(report.epochsLoaded == new Warehouse(spark, s"$dir/warehouse").readEpochs().count())
  }

  test("lenient job config loads interrupted recordings instead of failing them") {
    val dir = tmpDir("job-lenient")
    val refs = SyntheticSource.writeRecordings(s"$dir/raw", 2)
    // Interrupt subject 1's recording: clip half of the final record.
    val psg1 = java.nio.file.Paths.get(refs(1).psgPath)
    java.nio.file.Files.write(psg1,
      java.nio.file.Files.readAllBytes(psg1).dropRight(150))

    // Strict default: the interrupted subject is a per-file error.
    val strict = JobRunner.run(spark,
      JobRunner.JobConfig(0, 2, s"$dir/warehouse_strict"), refs)
    assert(strict.subjectsFailed == 1)

    // Lenient: both subjects load, the salvaged subject does NOT count as
    // failed, and the salvage is queryable: exactly one SALVAGE_WARNING
    // row for the shortened subject lands in INGESTION_ERRORS.
    val lenient = JobRunner.run(spark,
      JobRunner.JobConfig(0, 2, s"$dir/warehouse_lenient", lenient = true),
      refs)
    assert(lenient.subjectsFailed == 0)
    assert(lenient.martRows("sleep_summary") == 2)
    assert(lenient.epochsLoaded > strict.epochsLoaded,
      "the salvaged subject's epochs must load")
    val whLenient = new Warehouse(spark, s"$dir/warehouse_lenient")
    val salvageRows = whLenient.readErrors().collect()
    assert(salvageRows.length == 1, salvageRows.mkString("; "))
    assert(salvageRows(0).getAs[Int]("subject_id") == refs(1).subjectId)
    assert(salvageRows(0).getAs[String]("error_type") ==
      Ingest.SalvageWarningType)
  }

  test("the row contract rejects a subject whose file scales every band to NaN") {
    val dir = tmpDir("job-contract")
    val refs = SyntheticSource.writeRecordings(s"$dir/raw", 2)
    // Give subject 0's first signal a 0/0 scale: the per-signal header is
    // field-major, 8 bytes per signal for each of physical min, physical
    // max, digital min and digital max; copy each min over its max.
    val psg0 = java.nio.file.Paths.get(refs(0).psgPath)
    val bytes = java.nio.file.Files.readAllBytes(psg0)
    val ns = new String(bytes, 252, 4, "US-ASCII").trim.toInt
    Seq(104, 120).foreach { min =>
      System.arraycopy(bytes, 256 + min * ns, bytes, 256 + (min + 8) * ns, 8)
    }
    java.nio.file.Files.write(psg0, bytes)

    val report = JobRunner.run(spark,
      JobRunner.JobConfig(0, 2, s"$dir/warehouse"), refs)
    assert(report.subjectsFailed == 1)
    val wh = new Warehouse(spark, s"$dir/warehouse")
    val errs = wh.readErrors().collect().map(r => (r.getAs[Int]("subject_id"),
      r.getAs[String]("error_type"), r.getAs[String]("error_message")))
    assert(errs.toSeq == Seq((0, "SchemaErrors", "epoch contract violations: 1174")))
    assert(wh.readEpochs().filter("subject_id = 0").count() == 0)
    val summary = spark.read.parquet(s"$dir/warehouse/sleep_summary")
    assert(summary.select("subject_id").collect().map(_.getInt(0)).toSeq == Seq(1))
  }

  test("repeated or missing subject ids fail before anything is written") {
    val dir = tmpDir("job-repeated")
    val Seq(a, b) = SyntheticSource.writeRecordings(s"$dir/raw", 2)
    val cfg = JobRunner.JobConfig(0, 2, s"$dir/warehouse")
    val e = intercept[IllegalArgumentException] {
      JobRunner.run(spark, cfg, Seq(a, b.copy(subjectId = 0)))
    }
    assert(e.getMessage.contains("repeated subject ids in refs: 0"), e.getMessage)
    intercept[IllegalArgumentException](JobRunner.run(spark, cfg, Nil))
    assert(!new java.io.File(s"$dir/warehouse").exists())
  }

  test("config validation rejects bad subject ranges") {
    intercept[IllegalArgumentException] {
      JobRunner.validateConfig(JobRunner.JobConfig(5, 3, "/tmp/x"))
    }
  }

  test("all-subjects-failed aborts before transform") {
    val dir = tmpDir("job-fail")
    val badPath = s"$dir/corrupt.edf"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(badPath), "x".getBytes)
    intercept[IllegalStateException] {
      JobRunner.run(spark, JobRunner.JobConfig(0, 1, s"$dir/warehouse"),
        Seq(RecordingRef(0, badPath, badPath)))
    }
  }
}

class BucketedWarehouseSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed epochs table serves subject-keyed aggregation without a shuffle") {
    val wh = new Warehouse(spark, tmpDir("wh-bucket"))
    val epochs = (1 to 4).toDF("subject_id").crossJoin(
      (0 until 50).toDF("epoch_idx"))
      .selectExpr("subject_id", "epoch_idx", "'N2' as stage",
        "15.0 as delta_power", "14.0 as theta_power", "8.0 as alpha_power",
        "1.0 as sigma_power", "2.0 as beta_power")
    wh.loadEpochsBucketed(epochs, buckets = 4)

    val agg = wh.readEpochsBucketed().groupBy("subject_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
    val plan = agg.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed read still shuffles:\n$plan")
    assert(agg.collect().map(_.getLong(1)).forall(_ == 50))
    spark.sql("drop table if exists sleep_epochs_bucketed")
  }
}
