package graft.api

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col

/** The `sleep_metrics` columns the dashboard's epoch reads use, held on the
  * driver as primitive arrays sorted by (subject, `epoch_idx`, nulls
  * first), with a subject → row-range index. Nullable values keep their
  * nulls: `flags` marks each null number and the three states of
  * `is_in_sleep_period`, and a null stage stays `null`. Rows whose
  * `subject_id` is null are dropped, because no point read can match them.
  */
private[api] final class EpochSnapshot private (
    subjects: Array[Int],
    starts: Array[Int],
    flags: Array[Byte],
    epochIdx: Array[Int],
    stage: Array[String],
    delta: Array[Double],
    onset: Array[Int]) {
  import EpochSnapshot._

  private def has(i: Int, flag: Int): Boolean = (flags(i) & flag) != 0

  /** The rows of `subjectId`, in `epoch_idx` order; empty when absent. */
  def rowsOf(subjectId: Int): Range = {
    val k = java.util.Arrays.binarySearch(subjects, subjectId)
    if (k < 0) Range(0, 0) else Range(starts(k), starts(k + 1))
  }

  /** `is_in_sleep_period` is true: a null is not. */
  def inSleepPeriod(i: Int): Boolean = has(i, InPeriod)

  def sleepStage(i: Int): String = stage(i)

  /** (`epoch_idx`, `sleep_stage`, `is_in_sleep_period`, `delta_moving_avg`). */
  def epochRow(i: Int): Row = Row(
    if (has(i, EpochNull)) null else epochIdx(i),
    stage(i),
    if (has(i, PeriodNull)) null else has(i, InPeriod),
    if (has(i, DeltaNull)) null else delta(i))

  /** `epoch_idx − sleep_onset_epoch_idx`, or None when either is null. */
  def epochsAfterOnset(i: Int): Option[Int] =
    if (has(i, EpochNull) || has(i, OnsetNull)) None else Some(epochIdx(i) - onset(i))
}

private[api] object EpochSnapshot {

  /** The columns a snapshot holds, read in this order by [[Packer.add]]. */
  private val Columns = Seq("subject_id", "epoch_idx", "sleep_stage", "is_in_sleep_period",
    "delta_moving_avg", "sleep_onset_epoch_idx")

  private val EpochNull = 1
  private val DeltaNull = 2
  private val OnsetNull = 4
  private val PeriodNull = 8
  private val InPeriod = 16

  /** A packed row: flags, `epoch_idx`, stage code, `delta_moving_avg`,
    * `sleep_onset_epoch_idx`. A null number is packed as 0.
    */
  private val RowBytes = 1 + 4 + 4 + 8 + 4

  val empty: EpochSnapshot = merge(Array.empty)

  /** Loads `metrics` in one Dataset action: each partition packs its rows
    * per subject into one byte array, and the driver merges the packs.
    * Packing on the executors keeps the driver from holding one `Row` per
    * epoch.
    */
  def load(metrics: DataFrame): EpochSnapshot =
    merge(metrics.select(Columns.map(col): _*)
      .mapPartitions((rows: Iterator[Row]) => packPartition(rows))(Encoders.BINARY)
      .collect().map(new Pack(_)))

  /** One subject's rows from one partition, unsorted. */
  private final class Packer(subjectId: Int) {
    private val stages = mutable.LinkedHashMap.empty[String, Int]
    private var rows = ByteBuffer.allocate(RowBytes * 256)

    def add(r: Row): Unit = {
      if (rows.remaining < RowBytes) rows = ByteBuffer.allocate(rows.capacity * 2).put(rows.flip())
      def ifNull(i: Int, flag: Int) = if (r.isNullAt(i)) flag else 0
      val period = if (r.isNullAt(3)) PeriodNull else if (r.getBoolean(3)) InPeriod else 0
      rows.put((ifNull(1, EpochNull) | ifNull(4, DeltaNull) | ifNull(5, OnsetNull) | period).toByte)
        .putInt(if (r.isNullAt(1)) 0 else r.getInt(1))
        .putInt(if (r.isNullAt(2)) -1 else stages.getOrElseUpdate(r.getString(2), stages.size))
        .putDouble(if (r.isNullAt(4)) 0.0 else r.getDouble(4))
        .putInt(if (r.isNullAt(5)) 0 else r.getInt(5))
    }

    /** `subject_id`, the row count, the stage count, each stage as
      * (length, UTF-8 bytes), then the rows; a stage code indexes the
      * stages, and -1 is null.
      */
    def result(): Array[Byte] = {
      val names = stages.keys.map(_.getBytes(UTF_8)).toArray
      val out = ByteBuffer.allocate(12 + names.map(4 + _.length).sum + rows.position())
      out.putInt(subjectId).putInt(rows.position() / RowBytes).putInt(names.length)
      names.foreach(b => out.putInt(b.length).put(b))
      out.put(rows.flip()).array()
    }
  }

  private def packPartition(rows: Iterator[Row]): Iterator[Array[Byte]] = {
    val packers = mutable.HashMap.empty[Int, Packer]
    rows.foreach { r =>
      if (!r.isNullAt(0)) packers.getOrElseUpdate(r.getInt(0), new Packer(r.getInt(0))).add(r)
    }
    packers.valuesIterator.map(_.result())
  }

  /** A [[Packer]]'s output with its header decoded; rows are read in place. */
  private final class Pack(bytes: Array[Byte]) {
    val buf: ByteBuffer = ByteBuffer.wrap(bytes)
    val subjectId: Int = buf.getInt()
    val size: Int = buf.getInt()
    val stages: Array[String] = Array.fill(buf.getInt()) {
      val name = new Array[Byte](buf.getInt())
      buf.get(name)
      new String(name, UTF_8)
    }
    private val rowsAt = buf.position()
    /** The offset of row `r`. */
    def at(r: Int): Int = rowsAt + r * RowBytes
  }

  /** Concatenates each subject's packs and sorts its rows by `epoch_idx`:
    * null indexes first, ties in pack order.
    */
  private def merge(packs: Array[Pack]): EpochSnapshot = {
    val bySubject = packs.groupBy(_.subjectId)
    val subjects = bySubject.keys.toArray.sorted
    val n = packs.iterator.map(_.size).sum
    val starts = new Array[Int](subjects.length + 1)
    val flags = new Array[Byte](n)
    val epochIdx = new Array[Int](n)
    val stage = new Array[String](n)
    val delta = new Array[Double](n)
    val onset = new Array[Int](n)
    var at = 0
    subjects.indices.foreach { k =>
      starts(k) = at
      val group = bySubject(subjects(k))
      val size = group.iterator.map(_.size).sum
      // The subject's rows, numbered in pack order: row j is row rowOf(j)
      // of pack packOf(j). Null indexes go straight to the front of order;
      // the others are sorted as (epoch_idx, j) keys.
      val packOf = new Array[Int](size)
      val rowOf = new Array[Int](size)
      val order = new Array[Int](size)
      val keys = new Array[Long](size)
      var j = 0
      var nulls = 0
      var m = 0
      group.indices.foreach { p =>
        val pack = group(p)
        (0 until pack.size).foreach { r =>
          packOf(j) = p
          rowOf(j) = r
          val o = pack.at(r)
          if ((pack.buf.get(o) & EpochNull) != 0) { order(nulls) = j; nulls += 1 }
          else { keys(m) = pack.buf.getInt(o + 1).toLong << 32 | j; m += 1 }
          j += 1
        }
      }
      java.util.Arrays.sort(keys, 0, m)
      (0 until m).foreach(t => order(nulls + t) = keys(t).toInt)
      order.foreach { src =>
        val pack = group(packOf(src))
        val o = pack.at(rowOf(src))
        val code = pack.buf.getInt(o + 5)
        flags(at) = pack.buf.get(o)
        epochIdx(at) = pack.buf.getInt(o + 1)
        stage(at) = if (code < 0) null else pack.stages(code)
        delta(at) = pack.buf.getDouble(o + 9)
        onset(at) = pack.buf.getInt(o + 17)
        at += 1
      }
    }
    starts(subjects.length) = at
    new EpochSnapshot(subjects, starts, flags, epochIdx, stage, delta, onset)
  }
}
