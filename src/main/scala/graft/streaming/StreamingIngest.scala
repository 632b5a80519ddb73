package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming growth path (SURVEY §2.12): the reference is strictly batch,
  * but its episode detection (60-minute-gap sessionization) has a natural
  * Structured Streaming analog, documented there as the growth path —
  * `session_window` + watermark for gap-based sessions, and
  * `flatMapGroupsWithState` for custom per-subject state. Provided as
  * first-class operators so a streaming ingest mode slots in without
  * architecture changes; the batch models remain the parity surface.
  */
object StreamingIngest {

  /** Gap-based session aggregation over an epoch stream with event-time
    * column `ts`: the streaming restatement of the reference's
    * gaps-and-islands episode detection (60-minute wake gap ⇒ session
    * boundary). Watermark bounds state; output lands per closed session.
    */
  def episodeSessions(epochStream: DataFrame, gapMinutes: Int = 60,
      watermark: String = "2 hours"): DataFrame =
    epochStream
      .withWatermark("ts", watermark)
      .groupBy(
        col("subject_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(
        count(lit(1)).as("n_epochs"),
        sum(when(col("stage") =!= "W", 1).otherwise(0)).as("sleep_epochs"),
        min("ts").as("session_start"),
        max("ts").as("session_end"))
      .select(
        col("subject_id"),
        col("session_window.start").as("window_start"),
        col("session_window.end").as("window_end"),
        col("n_epochs"), col("sleep_epochs"),
        col("session_start"), col("session_end"))

  final case class EpochEvent(subject_id: Int, epoch_idx: Int, stage: String,
      ts: java.sql.Timestamp)
  final case class SubjectState(lastStage: String, transitions: Int, epochs: Int)
  final case class TransitionUpdate(subject_id: Int, epochs: Int, transitions: Int)

  /** Custom stateful operator: running per-subject stage-transition counts
    * via `flatMapGroupsWithState` — the streaming analog of the W2 LAG
    * transition detection. Emits an update per subject per micro-batch.
    */
  def transitionCounts(spark: SparkSession, epochs: DataFrame): DataFrame = {
    import spark.implicits._
    epochs.as[EpochEvent]
      .groupByKey(_.subject_id)
      .flatMapGroupsWithState[SubjectState, TransitionUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (subjectId, events, state: GroupState[SubjectState]) =>
          val prev = state.getOption.getOrElse(SubjectState(null, 0, 0))
          // Within a micro-batch, order by epoch_idx for deterministic LAG.
          val sorted = events.toSeq.sortBy(_.epoch_idx)
          val (endState, trans) = sorted.foldLeft((prev, 0)) {
            case ((st, n), e) =>
              val isTrans = st.lastStage != null && st.lastStage != e.stage
              (SubjectState(e.stage, st.transitions + (if (isTrans) 1 else 0),
                st.epochs + 1), n + (if (isTrans) 1 else 0))
          }
          state.update(endState)
          if (sorted.nonEmpty)
            Iterator(TransitionUpdate(subjectId, endState.epochs, endState.transitions))
          else Iterator.empty
      }.toDF()
  }

  final case class UserEvent(event_type: String, user_id: Long,
      ts: java.sql.Timestamp)
  final case class HllState(regs: Array[Int], n: Long)
  final case class HllUpdate(event_type: String, n_events: Long,
      zero_registers: Long, hll_users: Double)

  /** Streaming approximate distinct — HyperLogLog registers
    * (TextQueries.t41's construction: md5-prefix hash, m = 64, integer rho)
    * maintained per key inside `flatMapGroupsWithState`. THE bounded-state
    * streaming distinct: exact `count(distinct user)` state grows with the
    * user universe forever, while this state is 64 bytes of registers per
    * key for an unbounded stream, mergeable across keys/restarts by
    * bucket-wise max. Register updates are commutative (max), so the
    * result is independent of intra-batch order — no per-key sequence
    * column needed, unlike [[transitionCounts]]. Emits the running
    * estimate per key per micro-batch that contains events for it.
    */
  def hllDistinctUsers(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events.as[UserEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HllState, HllUpdate](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (eventType, evs, state: GroupState[HllState]) =>
          val st = state.getOption.getOrElse(HllState(new Array[Int](64), 0L))
          val regs = st.regs.clone()
          var n = st.n
          var any = false
          val md = java.security.MessageDigest.getInstance("MD5")
          evs.foreach { e =>
            any = true
            n += 1
            val hex = md.digest(e.user_id.toString.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString.take(15)
            md.reset()
            val h = java.lang.Long.parseLong(hex, 16)
            val bucket = (h & 63L).toInt
            val w = h >>> 6
            val rho = if (w == 0) 55
              else 55 - (64 - java.lang.Long.numberOfLeadingZeros(w))
            if (rho > regs(bucket)) regs(bucket) = rho
          }
          state.update(HllState(regs, n))
          if (any) {
            // Identical operand order to the t41 column expression and the
            // DuckDB oracle — IEEE ops on equal inputs, bit-equal result.
            val sScaled = regs.map(m => 1L << (55 - m)).sum
            val est = 0.709 * 4096.0 * math.pow(2.0, 55) / sScaled.toDouble
            // Spark's round(col, 4) semantics (decimal HALF_UP), which the
            // oracle's round(x, 4) + 0.0 is hash-proven to match.
            val rounded = BigDecimal(est)
              .setScale(4, scala.math.BigDecimal.RoundingMode.HALF_UP)
              .toDouble
            Iterator(HllUpdate(eventType, n,
              regs.count(_ == 0).toLong, rounded))
          } else Iterator.empty
      }.toDF()
  }

  /** Streaming exact deduplication — the streaming face of the batch dedup
    * family (TextQueries.t1): emit exactly one occurrence of each key within
    * the watermark window. Across micro-batches the FIRST batch wins (later
    * duplicates hit existing state and are dropped); within a single
    * micro-batch Spark keeps whichever duplicate reaches the state store
    * first after the shuffle, which is not guaranteed to be the
    * event-time-earliest. `dropDuplicatesWithinWatermark` bounds the dedup
    * state by event time (keys older than the watermark are evicted), which
    * is the only form that survives an unbounded stream — plain
    * `dropDuplicates` on a stream accumulates state forever.
    */
  def dedupStream(records: DataFrame, keyCol: String = "doc_id",
      tsCol: String = "ts", watermark: String = "1 hour"): DataFrame =
    records
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCol)

  /** Windowed ingest-quality monitor: the streaming face of the batch
    * validation layer (V1–V6) — per (subject, tumbling event-time window),
    * epoch counts and the invalid-stage ratio, so a live ingest surfaces a
    * failing recorder within one window instead of at end-of-batch
    * gate time. Watermark bounds the window state; invalid = a stage label
    * outside the batch contract's accepted set
    * ([[graft.ingest.Validation.ValidStages]]).
    */
  def qualityMonitor(epochStream: DataFrame, windowMinutes: Int = 10,
      watermark: String = "1 hour"): DataFrame = {
    val invalid = !col("stage").isin(graft.ingest.Validation.ValidStages: _*)
    epochStream
      .withWatermark("ts", watermark)
      .groupBy(col("subject_id"), window(col("ts"), s"$windowMinutes minutes"))
      .agg(
        count(lit(1)).as("n_epochs"),
        sum(when(invalid, 1).otherwise(0)).as("n_invalid"))
      .select(
        col("subject_id"),
        col("window.start").as("window_start"),
        col("n_epochs"), col("n_invalid"),
        (col("n_invalid") / col("n_epochs")).as("invalid_ratio"))
  }
}
