package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import graft.edf.Edf
import graft.signal.{BandPower, Epoching, Welch}

/** One validated epoch feature row (reference `processing.py:157-166` column
  * contract; SURVEY §1.2 SLEEP_EPOCHS minus warehouse defaults).
  */
final case class SleepEpoch(
    subject_id: Int,
    epoch_idx: Int,
    stage: String,
    delta_power: Double,
    theta_power: Double,
    alpha_power: Double,
    sigma_power: Double,
    beta_power: Double)

/** A (subject, PSG file, hypnogram file) unit of extraction — the reference's
  * per-subject task (`pipeline.py:44-87`).
  */
final case class RecordingRef(subjectId: Int, psgPath: String, hypnoPath: String)

/** The extraction pipeline: EDF signal + hypnogram → per-epoch band-power
  * rows, distributed one recording per task.
  *
  * Mirrors `ingest/processing.py:batch_process_file`: channel rename/retype,
  * 30 s annotation discretization, per-epoch Welch PSD restricted to EEG
  * channels (0.5–30 Hz), five band powers, MOVE/NAN drop with drop counting.
  * The reference's ThreadPool-of-3 parallelism (X1) becomes Spark tasks: one
  * partition per recording scales to any cluster width, and the per-epoch
  * kernel streams through an iterator, so memory stays constant per task
  * exactly like the reference's 100-epoch batch generator (N5).
  */
object Ingest {

  /** `processing.py:27-33` channel standardization. */
  val ChannelRename: Map[String, String] = Map(
    "EEG Fpz-Cz" -> "EEG",
    "EEG Pz-Oz" -> "EEG2",
    "EOG horizontal" -> "EOG",
    "EMG submental" -> "EMG")

  /** `processing.py:38-45`: channels retyped off EEG so the PSD pick can't
    * select them (names post-rename).
    */
  val NonEegChannels: Set[String] = Set(
    "EOG", "EMG", "Resp oro-nasal", "Temp rectal", "Event marker")

  final case class ExtractResult(
      rows: Vector[SleepEpoch], totalEvents: Int, dropped: Int)

  /** Parse a PSG with waveform decode narrowed to the channels
    * [[extractRecording]] will pick: a header-only pass computes the EEG
    * picks (with the reference's all-channels fallback,
    * `processing.py:77-87`), then [[Edf.parseSignals]] decodes just
    * those. The pick logic runs on headers alone, so the picked set is
    * IDENTICAL to what extractRecording derives from a full parse — the
    * non-picked channels (EOG/EMG/Resp/Temp/marker, 5 of 7 on a real
    * Sleep-EDF PSG) skip the per-sample scale/offset loop entirely.
    * `lenient` forwards [[Edf.parseSignals]]'s salvage mode.
    */
  def parsePsgPicked(bytes: Array[Byte],
      lenient: Boolean = false): Edf.EdfFile = {
    val picked = eegPicks(Edf.parseHeader(bytes).channelNames).map(_._1)
    Edf.parseSignals(bytes, picked.toSet, lenient)
  }

  /** EEG picks as (name, renamed): renamed contains "EEG" and is not a retyped
    * non-EEG channel; else all channels rather than failing (processing.py:77-87). */
  private def eegPicks(names: Vector[String]): Vector[(String, String)] = {
    val renamed = names.map(n => n -> ChannelRename.getOrElse(n, n))
    val eeg = renamed.filter { case (_, r) =>
      r.contains("EEG") && !NonEegChannels.contains(r) }
    if (eeg.nonEmpty) eeg else renamed
  }

  /** Pure kernel: one parsed recording pair → epoch rows. */
  def extractRecording(subjectId: Int, psg: Edf.EdfFile,
      hypno: Edf.EdfFile): ExtractResult = {
    val (picked, pickedRenamed) = eegPicks(psg.channelNames).unzip
    val sfreq = psg.sfreq(picked.head)
    val signals = picked.map(psg.signals)
    val nSamples = signals.head.length.toLong

    val events = Epoching.eventsFromAnnotations(hypno.annotations, sfreq, nSamples)
    val epochSamples = math.round(Epoching.EpochLengthSeconds * sfreq).toInt

    var dropped = 0
    val rows = Vector.newBuilder[SleepEpoch]
    var idx = 0
    events.foreach { ev =>
      val stage = Epoching.mapStage(ev.label)
      if (stage == "MOVE" || stage == "NAN") {
        dropped += 1
      } else {
        val start = ev.startSample.toInt
        // Per-channel PSD restricted to 0.5–30 Hz (processing.py:99-106).
        var freqs: Array[Double] = null
        val psdMatrix = signals.map { sig =>
          val seg = java.util.Arrays.copyOfRange(sig, start, start + epochSamples)
          val p = Welch.psdBand(seg, sfreq, 0.5, 30.0)
          freqs = p.freqs
          p.psd
        }.toArray
        val bands = BandPower.allBands(psdMatrix, freqs, pickedRenamed)
        rows += SleepEpoch(subjectId, idx, stage,
          bands(0), bands(1), bands(2), bands(3), bands(4))
      }
      idx += 1
    }
    ExtractResult(rows.result(), events.size, dropped)
  }

  /** Union row of the extraction output: exactly one of epoch/error is set —
    * Spark's product encoders handle nested Option[case class] natively,
    * letting one distributed pass carry both channels.
    */
  final case class ExtractRow(epoch: Option[SleepEpoch], error: Option[IngestError])

  /** P3 drop-rate observability (processing.py:168-181 logs dropped MOVE/NAN
    * epochs): accumulators surface the counts on the driver without an extra
    * pass. Populated once the extraction dataset is acted on.
    */
  final case class ExtractMetrics(
      dropped: org.apache.spark.util.LongAccumulator,
      totalEvents: org.apache.spark.util.LongAccumulator,
      /** Records truncated away + malformed TALs skipped by lenient
        * salvage — zero under the strict default. Run-level totals; the
        * per-subject breakdown rides the error channel as
        * [[Ingest.SalvageWarningType]] rows.
        */
      salvagedRecords: org.apache.spark.util.LongAccumulator,
      skippedTals: org.apache.spark.util.LongAccumulator) {
    def dropRate: Double =
      if (totalEvents.value == 0) 0.0
      else dropped.value.toDouble / totalEvents.value
  }

  object ExtractMetrics {
    def apply(spark: SparkSession): ExtractMetrics = ExtractMetrics(
      spark.sparkContext.longAccumulator("dropped_epochs"),
      spark.sparkContext.longAccumulator("total_events"),
      spark.sparkContext.longAccumulator("salvaged_records"),
      spark.sparkContext.longAccumulator("skipped_tals"))
  }

  /** Error-channel `error_type` for per-subject lenient-salvage warnings:
    * the subject LOADED (its epochs are in the output), but its inputs were
    * silently shortened. Filter on this type to separate warnings from real
    * failures — [[JobRunner]] does, so salvaged subjects never count as
    * failed or trip the all-failed abort.
    */
  val SalvageWarningType = "SALVAGE_WARNING"

  /** Distributed extraction over files on any Hadoop-visible filesystem
    * (local, HDFS, S3A): one task per recording; whole-file reads are fine
    * because one PSG night is tens of MB. Failure isolation is per subject:
    * a recording that fails to parse produces an error row, not a job abort
    * (reference V8, `pipeline.py:209-260`). The task also applies the V1 row
    * contract to its subject ([[Validation.contractError]]), as the
    * reference's worker does (`pipeline.py:81`): a rejected subject emits
    * its SchemaErrors row in place of its epochs. The refs must name
    * distinct subjects for that verdict to be per subject.
    *
    * Returns the combined row stream in ONE pass; split with [[epochsOf]] /
    * [[errorsOf]]. Callers that consume both sides should either persist the
    * result or write it once and read back — never trigger two extractions.
    *
    * `lenient = true` opts the whole pipeline into the reference
    * reader's salvage behavior (MNE truncates interrupted recordings to
    * the records present; the epoching tmax guard then clips events to
    * the salvaged signal): such subjects load their complete epochs
    * instead of landing in the error channel. The strict default keeps
    * the V8 channel's corrupt-object accounting exact — see
    * [[graft.edf.Edf.parse]] for the documented divergence.
    *
    * Salvage is queryable, not just counted: a subject whose inputs were
    * shortened emits one [[SalvageWarningType]] row through the SAME error
    * channel as parse failures (reference observability bar:
    * INGESTION_ERRORS, `duckdb_client.py:47-56`), carrying the per-subject
    * truncated-record and skipped-TAL counts — so a 100 TB lenient run can
    * answer "which inputs were silently shortened" with a query. Strict
    * runs cannot produce salvage counts (the parser throws instead), so
    * their error-channel accounting is unchanged by construction.
    */
  def extract(spark: SparkSession, refs: Seq[RecordingRef],
      metrics: Option[ExtractMetrics] = None,
      lenient: Boolean = false): Dataset[ExtractRow] = {
    import spark.implicits._
    val conf = new SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val m = metrics.getOrElse(ExtractMetrics(spark))
    val droppedAcc = m.dropped
    val totalAcc = m.totalEvents
    val salvagedAcc = m.salvagedRecords
    val talsAcc = m.skippedTals

    // One recording per task, with no shuffle.
    spark.createDataset(spark.sparkContext.parallelize(refs, refs.size))
      .mapPartitions { iter =>
        iter.flatMap { ref =>
          try {
            val psg = parsePsgPicked(readBytes(conf, ref.psgPath), lenient)
            val hypno = Edf.parse(readBytes(conf, ref.hypnoPath), lenient)
            val res = extractRecording(ref.subjectId, psg, hypno)
            droppedAcc.add(res.dropped)
            totalAcc.add(res.totalEvents)
            val salvaged = psg.salvagedRecords.toLong + hypno.salvagedRecords
            val tals = psg.skippedTals.toLong + hypno.skippedTals
            salvagedAcc.add(salvaged)
            talsAcc.add(tals)
            val epochRows = Validation.contractError(ref.subjectId, res.rows) match {
              case None => res.rows.map(r => ExtractRow(Some(r), None))
              case rejected => Vector(ExtractRow(None, rejected))
            }
            if (salvaged + tals > 0)
              // Queryable salvage: record which inputs were shortened
              // through the V8 channel.
              epochRows :+ ExtractRow(None, Some(IngestError(ref.subjectId,
                SalvageWarningType,
                // "extracted", not "loaded": the contract may still have
                // rejected the subject (its SchemaErrors row says so).
                s"lenient salvage: $salvaged truncated record(s) dropped, " +
                  s"$tals malformed TAL(s) skipped; epochs extracted",
                "")))
            else epochRows
          } catch {
            case e: Exception =>
              Seq(ExtractRow(None, Some(IngestError(ref.subjectId,
                e.getClass.getSimpleName, String.valueOf(e.getMessage),
                e.getStackTrace.take(5).mkString("\n")))))
          }
        }
      }
  }

  /** Fully distributed synthetic extraction: each task generates its
    * subject's EDF bytes in memory, parses them back through the real
    * binary path, and runs the signal kernels — no files, no driver-side
    * synthesis. One task per subject scales the demo path like the real one.
    */
  def extractSynthetic(spark: SparkSession, nSubjects: Int,
      seed: Long = 42L): Dataset[ExtractRow] = {
    import spark.implicits._
    spark.range(nSubjects).repartition(nSubjects)
      .mapPartitions { it =>
        it.flatMap { s =>
          val (psgB, hypB) = SyntheticSource.recording(s.toInt, seed)
          extractRecording(s.toInt, parsePsgPicked(psgB), Edf.parse(hypB))
            .rows.map(r => ExtractRow(Some(r), None))
        }
      }
  }

  def epochsOf(rows: Dataset[ExtractRow]): DataFrame = {
    import rows.sparkSession.implicits._
    rows.flatMap(_.epoch).toDF()
  }

  def errorsOf(rows: Dataset[ExtractRow]): DataFrame = {
    import rows.sparkSession.implicits._
    rows.flatMap(_.error).toDF()
  }

  /** Whole-file reads are sized for recordings (one PSG night is tens of
    * MB): anything past this cap is a wrong or corrupt object, not data.
    * Shared with the DSv2 reader, which does the same whole-file read.
    */
  private[graft] val MaxWholeFileBytes: Long = 1L << 30

  private[ingest] def readBytes(conf: SerializableConfiguration,
      path: String, maxBytes: Long = MaxWholeFileBytes): Array[Byte] = {
    val p = new Path(path)
    val fs = FileSystem.get(p.toUri, conf.value)
    // Check the size BEFORE allocating: a multi-GB object would otherwise
    // be an uncatchable executor OOM (and >2 GB overflows the Int array
    // length) — this way it lands in the per-file error channel like any
    // other corrupt input.
    val len = fs.getFileStatus(p).getLen
    require(len <= maxBytes,
      s"$path is $len bytes — over the $maxBytes-byte whole-file read cap;" +
        " a recording this size is a wrong or corrupt object")
    val in = fs.open(p)
    try {
      val buf = new Array[Byte](len.toInt)
      in.readFully(0, buf)
      buf
    } finally in.close()
  }
}

/** Error-channel row (reference INGESTION_ERRORS sans warehouse defaults,
  * `duckdb_client.py:47-56`; normalized tri-state shape `pipeline.py:23-37`).
  */
final case class IngestError(
    subject_id: Int,
    error_type: String,
    error_message: String,
    stack_trace: String)
