package graft.sources

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, RawLocalFileSystem}

import graft.SparkSpec

/** Counts the metadata operations that are round trips on an object
  * store. Registered under the `cfs:` scheme; planning through it makes
  * the planner's RPC budget an exact, asserted number instead of a PERF
  * claim — a future "one more probe per file" regression fails a test,
  * not a review pass.
  */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("cfs:///")
  // RawLocalFileSystem's statuses load permissions lazily via
  // `new java.io.File(uri)`, which rejects any scheme but `file:` —
  // materialize plain FileStatus copies (permissions are irrelevant to
  // planning) so LocatedFileStatus construction works under `cfs:`.
  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime,
      org.apache.hadoop.fs.permission.FsPermission.getDefault, "", "",
      s.getPath)
  // Count only TOP-LEVEL calls: RawLocalFileSystem delegates internally
  // (listStatus stats every child, open stats its target) — on a real
  // object store those are NOT extra round trips, one LIST/GET answers
  // them. The planner's own call pattern is what's being budgeted.
  private def counted[A](c: AtomicInteger)(body: => A): A = {
    val top = CountingFileSystem.enter()
    try { if (top) c.incrementAndGet(); body }
    finally CountingFileSystem.exit()
  }
  override def listStatus(f: Path): Array[FileStatus] =
    counted(CountingFileSystem.listings)(super.listStatus(f).map(plain))
  override def getFileStatus(f: Path): FileStatus =
    counted(CountingFileSystem.stats)(plain(super.getFileStatus(f)))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted(CountingFileSystem.opens)(super.open(f, bufferSize))
}

object CountingFileSystem {
  val listings = new AtomicInteger(0) // LIST round trips
  val stats = new AtomicInteger(0)    // HEAD round trips (getFileStatus/exists)
  val opens = new AtomicInteger(0)    // GET round trips (manifest reads)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue: Integer = 0
  }
  private[sources] def enter(): Boolean = {
    val d = depth.get; depth.set(d + 1); d == 0
  }
  private[sources] def exit(): Unit = depth.set(depth.get - 1)
  def reset(): Unit = { listings.set(0); stats.set(0); opens.set(0) }
  def counts: (Int, Int, Int) = (listings.get, stats.get, opens.get)

  /** The counters are JVM-global (FileSystem instances are cached per
    * scheme, so per-instance counters would not isolate anything):
    * every measured region must run under this lock, and the `cfs:`
    * scheme is EXCLUSIVE to suites that take it — a suite touching a
    * cfs: path outside the lock would make the exact budgets flaky
    * under sbt's parallel suite execution. [[EdfPlanningRpcSpec]] is its
    * user and takes the lock.
    */
  val measureLock = new Object
}

/** Pins the directory planner's per-load RPC budget: a steady-state
  * load pays ONE listing and reads no manifests; a fenced load adds one
  * manifest read per fence plus ONE recursive staging listing — never an
  * exists() round trip per redirected name.
  */
class EdfPlanningRpcSpec extends SparkSpec {

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.cfs.impl", classOf[CountingFileSystem].getName)
    c
  }

  /** Plans through the real scan on the counting scheme and returns
    * (listings, stats, opens) spent on planning alone.
    */
  private def planCounts(dir: String): (Int, Int, Int) = {
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    conf // ensure the scheme is registered
    spark.sparkContext // planInputPartitions resolves the active session
    val batch = new EdfDataSource()
      .getTable(EdfDataSource.Schema, Array.empty,
        java.util.Map.of("path", s"cfs:$dir"))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
    // The counters are global statics: reset-measure-read is atomic
    // only under the shared lock (see CountingFileSystem.measureLock).
    CountingFileSystem.measureLock.synchronized {
      CountingFileSystem.reset()
      val n = batch.planInputPartitions().length
      assert(n > 0, s"$dir planned nothing")
      CountingFileSystem.counts
    }
  }

  /** `files` committed data files plus `fences` crashed-export
    * manifests, each mentioning `namesPerFence` still-staged brand-new
    * files — the canonical states the planner resolves.
    */
  private def mkDir(prefix: String, files: Int, fences: Int,
      namesPerFence: Int = 1): String = {
    val d = tmpDir(prefix)
    (0 until files).foreach(i =>
      Files.write(Paths.get(s"$d/rec$i.edf"), "final".getBytes(UTF_8)))
    (1 to fences).foreach { i =>
      val stage = Paths.get(s"$d/_temporary/q$i/task-0-0")
      Files.createDirectories(stage)
      val lines = (0 until namesPerFence).map { j =>
        val staged = stage.resolve(s"new$i-$j.edf")
        Files.write(staged, s"staged$i-$j".getBytes(UTF_8))
        s"$staged\tnew$i-$j.edf\n"
      }
      Files.write(Paths.get(s"$d/" + EdfBatchWrite.fenceName(
        EdfBatchWrite.ManifestPrefix, i, s"q$i")),
        lines.mkString.getBytes(UTF_8))
    }
    d
  }

  // The measured budgets below are linear in FENCES with small
  // constants and — the load-bearing claims — independent of the number
  // of data files and of the number of redirected names per fence:
  //   directory load: listings 1 (+ 1+2f staging walk when fenced),
  //                   HEADs 1 (+ 1 manifest-length HEAD per fence), reads f
  // (The staging walk is 1+2f listings because each crashed query's
  // tree is _temporary/<qid>/task-*/...: one listing per directory
  // level, once per plan — never an exists() HEAD per redirected name.)

  test("steady-state directory load: one listing, zero manifest reads") {
    val (ls, st, op) = planCounts(mkDir("rpc_steady", files = 2, fences = 0))
    assert(ls == 1, s"listings=$ls (want 1: the directory listing)")
    assert(op == 0, s"opens=$op (want 0: no manifests to read)")
    assert(st == 1, s"stats=$st (want 1: the isDirectory probe)")
    // ...and the budget is independent of directory SIZE.
    assert(planCounts(mkDir("rpc_steady_wide", files = 50, fences = 0)) ==
      ((1, 1, 0)), "steady-state cost grew with file count")
  }

  test("fenced directory load: one staging walk + one read per fence") {
    val (ls, st, op) = planCounts(mkDir("rpc_fenced", files = 1, fences = 3))
    assert(ls == 2 + 2 * 3, s"listings=$ls (want 8: dir + staging walk)")
    assert(op == 3, s"opens=$op (want 3: one read per fence)")
    assert(st == 1 + 3, s"stats=$st (want 4: isDirectory + one " +
      "manifest-length HEAD per fence)")
  }

  test("redirect resolution costs nothing per NAME: one fence, many names") {
    // 20 still-staged names behind ONE fence must plan at the exact
    // one-fence budget — staged existence is answered from the one
    // staging walk, never an exists() round trip per redirected name.
    val one = planCounts(mkDir("rpc_one", files = 1, fences = 1))
    val many = planCounts(
      mkDir("rpc_many", files = 1, fences = 1, namesPerFence = 20))
    assert(one == ((4, 2, 1)), s"one-name budget moved: $one")
    assert(many == one,
      s"per-name cost crept into redirect resolution: $many != $one")
  }
}
