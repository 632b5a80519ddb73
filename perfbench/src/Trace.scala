package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the program's layers.
  *
  * A span is opened by the benchmark around one call into a layer's
  * public function. While tracing is on, the span's id is the thread's
  * Spark job group, so every job the call starts is charged to it. Each
  * job also becomes a child span of its own, named after the layer of the
  * innermost `graft.*` frame of its call site; that is how a single call
  * such as `JobRunner.run` is split into its extract, load and transform
  * parts without touching program code. Spans stay in memory and are
  * written out when the run ends.
  *
  * With tracing off, [[Trace.span]] only runs its body.
  */
object Trace {
  @volatile private var active: Option[Tracer] = None

  def span[A](name: String)(f: => A): A = active match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  /** Whether spans are being recorded (the traced passes of a traced run). */
  def on: Boolean = active.isDefined

  def start(t: Tracer): Unit = { t.install(); active = Some(t) }
  def stop(): Unit = active = None
}

final case class Span(id: Int, name: String, parent: Int, startMs: Double,
    var endMs: Double = Double.NaN) {
  def layer: String = name.takeWhile(_ != '.')
  def durMs: Double = endMs - startMs
}

/** One Spark job with the task totals of its stages. */
final class JobRec(val id: Int, val group: String, val execId: Long,
    val sublayer: String, val startMs: Double) {
  @volatile var endMs: Double = Double.NaN
  var tasks = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var shuffleWriteBytes = 0L
  /** Task durations (ms) per stage. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val accums = mutable.Map.empty[String, Long]
}

/** Plan-side counters of one SQL execution, taken from its executed plan. */
final case class ExecRec(filesRead: Long, rowsScanned: Long,
    filesWritten: Long, rowsOut: Long)

final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val execLayer = new ConcurrentHashMap[Long, String]()
  /** `durationMs` of every streaming micro-batch. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()

  private var nextId = 0

  /** Spans use wall-clock ms, the clock Spark stamps job events with. */
  def span[A](name: String)(f: => A): A = {
    val s = Span(nextId, name, stack.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis().toDouble)
    nextId += 1
    spans += s
    stack.push(s)
    sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    try f
    finally {
      s.endMs = System.currentTimeMillis().toDouble
      stack.pop()
      stack.headOption match {
        case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Removes the listeners and waits until the listener bus has delivered
    * every event of the traced passes.
    */
  def finish(): Unit = {
    org.apache.spark.PerfbenchAccess.drainListenerBus(sc)
    sc.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }

  // ------------------------------------------------------------ listeners

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      val execId = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      val details = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val j = new JobRec(e.jobId, group, execId, Tracer.classify(details),
        e.time.toDouble)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(sid => stageJob.putIfAbsent(sid, j))
    }
    // Jobs that SQL starts from its own threads (broadcasts, adaptive query
    // stages) carry no program frames; their execution's start event does.
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execLayer.put(s.executionId, Tracer.classify(s.details))
      case s: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSqlAccess.queryExecution(s).foreach { qe =>
          execs.put(s.executionId, Tracer.planCounters(qe.executedPlan))
        }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          j.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
            e.taskInfo.duration
          Option(e.taskMetrics).foreach { m =>
            j.cpuNs += m.executorCpuTime
            j.inputBytes += m.inputMetrics.bytesRead
            j.outputBytes += m.outputMetrics.bytesWritten
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
        j.synchronized {
          e.stageInfo.accumulables.values.foreach { a =>
            (a.name, a.value) match {
              case (Some(n), Some(v: Long)) if !n.startsWith("internal.") =>
                j.accums(n) = j.accums.getOrElse(n, 0L) + v
              case _ =>
            }
          }
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  // ------------------------------------------------------------- analysis

  def allSpans: Seq[Span] = spans.toSeq

  /** The jobs charged to span `s` or to any span nested in it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = descendants(s).map(d => s"span-${d.id}").toSet + s"span-${s.id}"
    jobs.values.asScala.filter(j => ids(j.group)).toSeq.sortBy(_.id)
  }

  def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** The layer a job is charged to: from its own call site, else from its
    * SQL execution's, else "unattributed".
    */
  def layerOf(j: JobRec): String =
    if (j.sublayer != "unattributed") j.sublayer
    else execLayer.getOrDefault(j.execId, "unattributed")

  /** Executions whose jobs are all in `js`, each counted once. */
  def execsOf(js: Seq[JobRec]): Seq[ExecRec] =
    js.map(_.execId).distinct.flatMap(id => Option(execs.get(id)))

  /** Writes the spans, job spans included, as one JSON document. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
    val bySpan = spans.map(s => s"span-${s.id}" -> s.id).toMap
    val rows = spans.map { s =>
      Json.obj("run" -> runId, "id" -> s"s${s.id}", "name" -> s.name,
        "parent" -> (if (s.parent < 0) null else s"s${s.parent}"),
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)
    } ++ js.filter(j => bySpan.contains(j.group)).map { j =>
      Json.obj("run" -> runId, "id" -> s"j${j.id}", "name" -> layerOf(j),
        "parent" -> s"s${bySpan(j.group)}", "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> j.tasks, "executor_cpu_ms" -> j.cpuNs / 1e6,
        "input_bytes" -> j.inputBytes, "output_bytes" -> j.outputBytes,
        "shuffle_write_bytes" -> j.shuffleWriteBytes)
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      Json.arr(rows.toSeq: _*).getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  /** The layer a job belongs to, from the innermost program frame of its
    * call site. Data tests and the model DAG are told apart from the rest
    * of the `ingest` package by the method they run in.
    */
  def classify(callSite: String): String = {
    val frames = callSite.split("\n").map(_.trim).filter(_.startsWith("graft."))
    if (frames.exists(_.contains("Validation$.require"))) "sleep.data_tests"
    else if (frames.exists(_.contains("JobRunner$.transform"))) "sleep.transform"
    else frames.headOption match {
      case None => "unattributed"
      case Some(f) =>
        val pkg = f.split('.').drop(1).headOption.getOrElse("")
        pkg match {
          case "warehouse" => "warehouse.load"
          case "ingest" => "ingest.extract"
          case "sleep" => "sleep.transform"
          case "api" => "api.read"
          case "edf" | "signal" | "streaming" => pkg + ".job"
          case _ => "queries.job"
        }
    }
  }

  private def metric(p: SparkPlan, key: String): Long =
    p.metrics.get(key).map(_.value).getOrElse(0L)

  def planCounters(plan: SparkPlan): ExecRec = {
    val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
    val writes = collect(plan) {
      case w: DataWritingCommandExec => w
      case w: V2TableWriteExec => w
    }
    val rowsOut =
      if (writes.nonEmpty) writes.map(metric(_, "numOutputRows")).sum
      else {
        // The top-most operator that counts its output rows.
        var found = -1L
        foreach(plan) { p =>
          if (found < 0 && p.metrics.contains("numOutputRows"))
            found = metric(p, "numOutputRows")
        }
        math.max(found, 0L)
      }
    ExecRec(
      filesRead = scans.map(metric(_, "numFiles")).sum,
      rowsScanned = scans.map(metric(_, "numOutputRows")).sum,
      filesWritten = writes.map(metric(_, "numFiles")).sum,
      rowsOut = rowsOut)
  }

  /** Total length of the union of intervals, in the intervals' unit. */
  def unionLen(iv: Seq[(Double, Double)]): Double = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    sorted.foreach { case (a, b) =>
      if (curE.isNaN || a > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  /** `iv` clipped to the window `[lo, hi]`. */
  def clip(iv: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
}
