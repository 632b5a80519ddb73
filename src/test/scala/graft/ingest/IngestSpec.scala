package graft.ingest

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.edf.Edf

class IngestSpec extends SparkSpec {

  test("synthetic recording extracts stage-plausible band powers") {
    val (psgB, hypB) = SyntheticSource.recording(0)
    val res = Ingest.extractRecording(0, Edf.parse(psgB), Edf.parse(hypB))

    assert(res.rows.nonEmpty)
    // MOVE + NAN epochs of the grammar are dropped, 4 of them.
    assert(res.dropped == 4, s"dropped ${res.dropped}")
    // epoch_idx is the event index: continuous except the dropped ones.
    assert(res.rows.map(_.epoch_idx) == res.rows.map(_.epoch_idx).sorted)
    assert(res.rows.forall(r => Set("W", "N1", "N2", "N3", "REM")(r.stage)))

    // Stage physics: N3 (delta-dominated synthesis) must have higher delta
    // power than W; W must have higher alpha than N3.
    def avgBy(stage: String, f: SleepEpoch => Double) = {
      val xs = res.rows.filter(_.stage == stage).map(f)
      xs.sum / xs.size
    }
    assert(avgBy("N3", _.delta_power) > avgBy("W", _.delta_power) + 3.0)
    assert(avgBy("W", _.alpha_power) > avgBy("N3", _.alpha_power) + 3.0)
    // All powers finite (clamp path).
    assert(res.rows.forall(r => !r.delta_power.isNaN && !r.beta_power.isNaN))
  }

  test("picked-channel selective parse extracts bit-identical epochs") {
    // parsePsgPicked must derive the SAME pick set from headers alone
    // that extractRecording derives from a full parse, and the selective
    // decode must be bit-identical on the picked channels — so the
    // extracted rows match exactly, while the skipped EOG decoy is absent
    // from the selective parse's signal map.
    val (psgB, hypB) = SyntheticSource.recording(3)
    val hyp = Edf.parse(hypB)
    val full = Ingest.extractRecording(3, Edf.parse(psgB), hyp)
    val sel = Ingest.parsePsgPicked(psgB)
    assert(!sel.signals.contains("EOG horizontal"),
      s"decoy channel decoded anyway: ${sel.signals.keySet}")
    val picked = Ingest.extractRecording(3, sel, hyp)
    assert(picked.rows == full.rows)
    assert(picked.dropped == full.dropped)
  }

  test("distributed extract isolates per-subject failures as error rows") {
    val dir = tmpDir("ingest")
    val refs = SyntheticSource.writeRecordings(dir, 2)
    // Corrupt subject 99's files.
    val badPsg = s"$dir/bad_psg.edf"
    java.nio.file.Files.write(java.nio.file.Paths.get(badPsg),
      "not an edf at all".getBytes)
    // Subject 98: a structurally VALID file whose header declares a huge
    // record count — must land in the error channel as a catchable parse
    // failure, never as an executor-OOMing allocation.
    val (psgB, _) = SyntheticSource.recording(98)
    val hostile = psgB.clone()
    System.arraycopy("99999999".getBytes("US-ASCII"), 0, hostile, 236, 8)
    val hostilePsg = s"$dir/hostile_psg.edf"
    java.nio.file.Files.write(java.nio.file.Paths.get(hostilePsg), hostile)
    // Subject 97: a healthy PSG with a hypnogram whose first TAL onset
    // reads "+q…" — a malformed annotation field, not a malformed header.
    val talHyp = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(refs.head.hypnoPath))
    var i = new String(talHyp, 184, 8, "US-ASCII").trim.toInt
    while (talHyp(i) != '+') i += 1
    talHyp(i + 1) = 'q'.toByte
    val badTalHyp = s"$dir/bad_tal_hyp.edf"
    java.nio.file.Files.write(java.nio.file.Paths.get(badTalHyp), talHyp)
    val all = refs :+ RecordingRef(99, badPsg, badPsg) :+
      RecordingRef(98, hostilePsg, hostilePsg) :+
      RecordingRef(97, refs.head.psgPath, badTalHyp)

    val extracted = Ingest.extract(spark, all).persist()
    val epochs = Ingest.epochsOf(extracted)
    val errors = Ingest.errorsOf(extracted).collect()

    assert(epochs.select("subject_id").distinct().count() == 2)
    assert(errors.length == 3)
    val bySubject = errors.map(r =>
      r.getAs[Int]("subject_id") -> r.getAs[String]("error_message")).toMap
    assert(bySubject.keySet == Set(97, 98, 99))
    assert(bySubject(98).contains("payload holds"), bySubject(98))
    assert(bySubject(97).contains("malformed TAL onset"), bySubject(97))
    assert(errors.forall(_.getAs[String]("error_type").nonEmpty))
    // The failures leave the healthy subjects' rows exactly as a run over
    // the healthy refs alone produces them.
    val clean = Ingest.epochsOf(Ingest.extract(spark, refs))
    assert(epochs.exceptAll(clean).count() == 0)
    assert(clean.exceptAll(epochs).count() == 0)
    extracted.unpersist()
  }

  test("lenient extract salvages interrupted recordings the default rejects") {
    import spark.implicits._
    val dir = tmpDir("ingest-lenient")
    val refs = SyntheticSource.writeRecordings(dir, 1)
    // Subject 5: subject 0's PSG with half of the final record clipped —
    // an interrupted-but-usable recording (the class the reference's MNE
    // reader truncates-with-warning and ingests).
    val psgB = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(refs.head.psgPath))
    val truncPsg = s"$dir/trunc_psg.edf"
    java.nio.file.Files.write(java.nio.file.Paths.get(truncPsg),
      psgB.dropRight(150))
    // Subject 6: garbage that no mode can salvage.
    val garbagePsg = s"$dir/garbage_psg.edf"
    java.nio.file.Files.write(java.nio.file.Paths.get(garbagePsg),
      "not an edf at all".getBytes("US-ASCII"))
    val all = refs :+ RecordingRef(5, truncPsg, refs.head.hypnoPath) :+
      RecordingRef(6, garbagePsg, refs.head.hypnoPath)

    // Strict default: the truncated subject is a per-file error (exact
    // V8 accounting).
    val strict = Ingest.extract(spark, all).persist()
    assert(Ingest.errorsOf(strict).select("subject_id")
      .as[Int].collect().toSeq.sorted == Seq(5, 6))
    strict.unpersist()

    // Lenient: complete records salvage, the epoching tmax guard clips
    // events to the salvaged signal, and every surviving epoch is
    // value-identical to the intact copy of the same recording. The
    // salvage is QUERYABLE: the shortened subject emits exactly one
    // SALVAGE_WARNING row through the error channel (its epochs still
    // load), and the accumulators carry the totals.
    val metrics = Ingest.ExtractMetrics(spark)
    val lenient =
      Ingest.extract(spark, all, Some(metrics), lenient = true).persist()
    val (warnings, failures) = Ingest.errorsOf(lenient).collect()
      .partition(_.getAs[String]("error_type") == Ingest.SalvageWarningType)
    // The garbage PSG is still a real error next to the salvage warning.
    assert(failures.map(_.getAs[Int]("subject_id")).toSeq == Seq(6),
      failures.mkString("; "))
    assert(warnings.length == 1, warnings.mkString("; "))
    assert(warnings(0).getAs[Int]("subject_id") == 5)
    assert(warnings(0).getAs[String]("error_message")
      .contains("1 truncated record(s) dropped"),
      warnings(0).getAs[String]("error_message"))
    val rows = Ingest.epochsOf(lenient).as[SleepEpoch].collect()
    lenient.unpersist()
    assert(metrics.salvagedRecords.value == 1L,
      s"salvage accumulator read ${metrics.salvagedRecords.value}")
    assert(metrics.skippedTals.value == 0L)
    val intact = rows.filter(_.subject_id == refs.head.subjectId)
      .map(r => r.epoch_idx -> r.copy(subject_id = 5)).toMap
    assert(!rows.exists(_.subject_id == 6), "the garbage subject loaded epochs")
    val salvaged = rows.filter(_.subject_id == 5)
    assert(salvaged.nonEmpty && salvaged.length >= intact.size - 1,
      s"salvaged ${salvaged.length} of ${intact.size} epochs")
    salvaged.foreach(r =>
      assert(intact(r.epoch_idx) == r, s"epoch ${r.epoch_idx} differs"))
  }

  test("whole-file read cap fails catchably before allocating") {
    // A wrong/huge object must land in the per-file error channel, never
    // allocate task heap for itself (or overflow the Int array length at
    // >2 GB). Exercised with a small cap override on a real file.
    val dir = tmpDir("ingest-cap")
    val f = s"$dir/big.edf"
    java.nio.file.Files.write(java.nio.file.Paths.get(f),
      new Array[Byte](1000))
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val e = intercept[IllegalArgumentException](
      Ingest.readBytes(conf, f, maxBytes = 100))
    assert(e.getMessage.contains("read cap"), e.getMessage)
    assert(Ingest.readBytes(conf, f).length == 1000) // default cap passes
  }

  test("extract output feeds the model DAG end to end") {
    val dir = tmpDir("ingest-e2e")
    val refs = SyntheticSource.writeRecordings(dir, 1)
    val extracted = Ingest.extract(spark, refs)
    val epochs = Ingest.epochsOf(extracted)

    val staged = graft.sleep.SleepModels.staging(epochs)
    val metrics = graft.sleep.SleepModels.sleepMetrics(staged)
    val summary = graft.sleep.SleepModels.sleepSummary(metrics)
    val row = summary.filter(col("subject_id") === 0).head()

    // The nap (20 min) must be excluded: the main episode is the night.
    val tst = row.getAs[Double]("total_sleep_minutes")
    assert(tst > 120, s"implausibly low TST $tst")
    val eff = row.getAs[Double]("sleep_efficiency")
    assert(eff > 0 && eff <= 1)
  }
}

class SeedDataSpec extends SparkSpec {

  test("seed grammar produces the adversarial nap shape deterministically") {
    val a = SeedData.rows(2, seed = 0)
    val b = SeedData.rows(2, seed = 0)
    assert(a == b)

    val s0 = a.filter(_.subject_id == 0)
    // Grammar prefix: 180 W, then the 40-epoch nap, then 240 W.
    assert(s0.take(180).forall(_.stage == "W"))
    assert(s0.slice(180, 220).forall(s => s.stage == "N1" || s.stage == "N2"))
    assert(s0.slice(220, 460).forall(_.stage == "W"))
    // Band centres put N3 delta far above W delta.
    val n3d = s0.filter(_.stage == "N3").map(_.delta_power)
    assert(n3d.nonEmpty && n3d.forall(d => d > 20.0 && d < 24.0))
  }

  test("nap is excluded from the sleep period by the model DAG") {
    val df = SeedData.dataFrame(spark, subjects = 1)
    val metrics = graft.sleep.SleepModels.sleepMetrics(
      graft.sleep.SleepModels.staging(df))
    val bounds = metrics.select("sleep_onset_epoch_idx").distinct().collect()
    assert(bounds.length == 1)
    // Night starts at epoch 460 (after afternoon+nap+evening); the nap at
    // epochs 180-219 must NOT be the onset.
    val onset = bounds(0).getAs[Int]("sleep_onset_epoch_idx")
    assert(onset == 460, s"onset $onset should be the first night epoch")

    val summary = graft.sleep.SleepModels.sleepSummary(metrics)
    Validation.requireAll(Validation.summaryChecks(summary))
  }
}
