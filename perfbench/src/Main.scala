package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) => value(k) + ":" + value(v) }
    .mkString("{", ",", "}")
  /** An array of already-encoded elements. */
  def arr(encoded: String*): String = encoded.mkString("[", ",\n", "]")
}

/** Operation accounting for one run: latencies, attempted and failed
  * operations, and every output check that ran.
  */
final class Ops {
  /** Latency samples (ms) of the timed passes. */
  val latenciesMs = mutable.ArrayBuffer.empty[Double]
  /** Latency (ms) of the last operation. */
  var lastMs = 0.0
  /** Whether latencies are being sampled (false during the warm-up pass). */
  var sampling = false
  /** Seconds spent inside operations, summed over the run. */
  var busyS = 0.0
  /** JVM CPU seconds (all threads) spent inside operations. */
  var cpuS = 0.0
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var attempted = 0L
  var failed = 0L
  /** check name -> (times run, times failed) */
  val checks = mutable.LinkedHashMap.empty[String, (Long, Long)]

  private def note(name: String, ok: Boolean): Unit = {
    val (r, f) = checks.getOrElse(name, (0L, 0L))
    checks(name) = (r + 1, f + (if (ok) 0 else 1))
  }

  /** Runs one client operation. Its time counts toward the pass; when
    * `sample` is set it is also a latency sample. The operation fails when
    * it throws or when one of the checks `check` returns on its output is
    * false.
    */
  def op[A](sample: Boolean)(f: => A)(check: A => Seq[(String, Boolean)]): Option[A] = {
    attempted += 1
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = try Some(f) catch {
      case e: Exception =>
        System.err.println(s"[perfbench] operation failed: $e")
        None
    }
    val s = (System.nanoTime() - t0) / 1e9
    lastMs = s * 1e3
    busyS += s
    cpuS += (os.getProcessCpuTime - c0) / 1e9
    if (sampling && sample) latenciesMs += s * 1e3
    r match {
      case None => failed += 1
      case Some(v) =>
        val cs = try check(v) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] check threw: $e")
            Seq("check_completed" -> false)
        }
        cs.foreach { case (n, ok) =>
          note(n, ok)
          if (!ok) System.err.println(s"[perfbench] check failed: $n")
        }
        if (cs.exists(!_._2)) failed += 1
    }
    r
  }
}

/** One benchmark workload. */
trait Workload {
  /** Input sizes, stamped into the result. */
  def sizes: Seq[(String, Any)]
  def setupReps: Int = 3
  /** Timed passes a run makes at least, however long they take. */
  def minPasses: Int = 1
  /** Untimed work before set-up: JIT and code generation of the paths a
    * pass takes, and any inputs set-up derives from.
    */
  def warmUp(ops: Ops): Unit
  /** One repetition of the set-up; the last one leaves the inputs the
    * passes use.
    */
  def setup(rep: Int): Unit
  /** Untimed work before each pass (removing the previous pass's output). */
  def beforePass(): Unit = ()
  /** One pass: a sequence of [[Ops.op]] calls. */
  def pass(ops: Ops): Unit
  /** The workload's own metrics (throughput, percentiles), from the pass times
    * (s) and latency samples: (name, value, unit).
    */
  def named(passS: Seq[Double], ops: Ops): Seq[(String, Double, String)]
  /** The median latency of one operation over the timed passes. */
  def opP50Ms(ops: Ops): Double = Main.percentile(ops.latenciesMs.toSeq, 50)
  /** Per-layer values the workload measures itself after traced passes. */
  def layerExtras(t: Tracer, tracedPasses: Int): Map[String, Double] = Map.empty
}

object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, size: String = "full", work: String = ".bench_run",
      sha: String = "unknown", src: String = "unknown")

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--size" :: v :: rest => parse(rest, a.copy(size = v))
    case "--work" :: v :: rest => parse(rest, a.copy(work = v))
    case "--sha" :: v :: rest => parse(rest, a.copy(sha = v))
    case "--src" :: v :: rest => parse(rest, a.copy(src = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  /** Stolen cpu time so far, in jiffies (1/100 s), from /proc/stat. */
  def stealJiffies(): Long = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
    if (f.length > 8) f(8).toLong else 0L
  } catch { case _: Exception => 0L }

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val work = Paths.get(a.work).toAbsolutePath.resolve(a.workload)
    deleteTree(work)
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.Sessions.localBuilder(cpus.toString)
      .appName(s"perfbench-${a.workload}")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val status = try run(spark, a, work, cpus) finally spark.stop()
    deleteTree(work)
    sys.exit(status)
  }

  private def run(spark: SparkSession, a: Args, work: Path, cpus: Int): Int = {
    val wl: Workload = a.workload match {
      case "pipeline" => new PipelineWorkload(spark, work, a.seed, a.size == "tiny")
      case "registry" => new RegistryWorkload(spark, Paths.get(RegistryWorkload.Data).toAbsolutePath,
        Paths.get(RegistryWorkload.Expected))
      case other =>
        System.err.println(s"unknown workload '$other'")
        return 2
    }
    // Warm the session itself (codegen, parquet reader) outside set-up.
    spark.range(100000).selectExpr("sum(id)").collect()

    val ops = new Ops
    val warmUpS = timeS(wl.warmUp(ops))
    // setup_s is reported by untraced runs only, so a traced run sets up once.
    val setupReps = if (a.trace) 1 else wl.setupReps
    val setupS = (0 until setupReps).map(r => timeS(wl.setup(r)))

    /** Passes until `seconds` have gone by, and at least `wl.minPasses`:
      * (busy s, cpu s) of each, and the wall seconds of the whole loop.
      */
    def passes(seconds: Double): (Seq[(Double, Double)], Double) = {
      val out = mutable.ArrayBuffer.empty[(Double, Double)]
      val t0 = System.nanoTime()
      while (out.size < wl.minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        wl.beforePass()
        val (b0, c0) = (ops.busyS, ops.cpuS)
        wl.pass(ops)
        out += ((ops.busyS - b0, ops.cpuS - c0))
      }
      (out.toSeq, (System.nanoTime() - t0) / 1e9)
    }

    // A traced run records spans over its timed passes. Untraced passes in
    // the same JVM, made after them, are the reference its tracing overhead
    // is measured against; the JIT has warmed further by then, so the
    // overhead errs high.
    val runId = s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}"
    val tracer = if (a.trace) Some(new Tracer(spark, runId)) else None
    ops.sampling = true
    tracer.foreach(Trace.start)
    val steal0 = Main.stealJiffies()
    val (timed, loopS) = try passes(a.seconds) finally Trace.stop()
    val stealS = (Main.stealJiffies() - steal0) / 100.0
    ops.sampling = false
    val heapMb = liveHeapMb()
    val passS = timed.map(_._1)

    val layer = tracer.map { t =>
      t.finish()
      val untracedS = passes(0)._1.map(_._1)
      val extras = wl.layerExtras(t, timed.size) +
        ("trace.overhead_s" -> (median(passS) - median(untracedS)))
      t.writeSpans(work.getParent.resolve("traces").resolve(s"$runId.json"))
      Layers.report(t, passS, loopS, extras)
    }

    val checksRun = ops.checks.keys.toSeq
    val correct = ops.failed == 0 && ops.checks.nonEmpty

    val stamp = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> cpus, "git_sha" -> a.sha,
      "source_digest" -> a.src,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version, "sf_dir" -> RegistryWorkload.Data, "size" -> a.size,
      "seconds" -> a.seconds, "setup_reps" -> setupReps, "timed_passes" -> timed.size,
      // Untimed, so work moved out of the passes and set-up shows here.
      "warm_up_s" -> warmUpS,
      // CPU time the host took from this machine during the timed passes,
      // summed over its cpus: a noisy neighbour shows here.
      "steal_s" -> stealS) ++
      wl.sizes
    println(Json.obj("stamp" -> mutable.LinkedHashMap(stamp: _*)))
    val named = wl.named(passS, ops) ++ Seq(
      ("cpu_s", median(timed.map(_._2)), "s"),
      ("fail_ratio", ops.failed.toDouble / math.max(ops.attempted, 1), "ratio"))
    println(Json.obj(
      "named" -> mutable.LinkedHashMap(named.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*),
      "checks" -> mutable.LinkedHashMap(ops.checks.toSeq.map { case (n, (r, f)) =>
        n -> mutable.LinkedHashMap("run" -> r, "failed" -> f) }: _*)))

    val metrics: Seq[(String, Double, String)] = layer match {
      case Some(m) => Layers.all.map { case (n, u) => (n, m(n), u) }
      case None =>
        Seq(("setup_s", median(setupS), "s"), ("run_s", median(passS), "s"),
          ("op_p50_ms", wl.opP50Ms(ops), "ms"),
          ("heap_retained_mb", heapMb, "MB"))
    }
    println(Json.obj(
      "correct" -> correct, "attempted" -> ops.attempted, "failed" -> ops.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (n, v, u) =>
        n -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*)))
    if (checksRun.isEmpty) 1 else 0
  }
}
