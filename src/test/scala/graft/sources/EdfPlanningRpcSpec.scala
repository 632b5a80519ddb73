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
  override def getFileStatus(f: Path): FileStatus = {
    if (sys.env.contains("GRAFT_RPC_TRACE") && CountingFileSystem.enterPeek)
      new Exception(s"STAT $f").printStackTrace()
    counted(CountingFileSystem.stats)(plain(super.getFileStatus(f)))
  }
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
  private[sources] def enterPeek: Boolean = depth.get == 0
  private[sources] def exit(): Unit = depth.set(depth.get - 1)
  def reset(): Unit = { listings.set(0); stats.set(0); opens.set(0) }
  def counts: (Int, Int, Int) = (listings.get, stats.get, opens.get)

  /** The counters are JVM-global (FileSystem instances are cached per
    * scheme, so per-instance counters would not isolate anything):
    * every measured region must run under this lock, and the `cfs:`
    * scheme is EXCLUSIVE to suites that take it — a suite touching a
    * cfs: path outside the lock would make the exact budgets flaky
    * under sbt's parallel suite execution. [[EdfPlanningRpcSpec]] and
    * [[EdfPlanningOverlapSpec]] are its users, and both take the lock.
    */
  val measureLock = new Object
}

/** Pins the glob/directory planner's per-load RPC budget (VERDICT r12
  * item 4): a steady-state load pays ONE listing and reads no manifests;
  * a fenced load adds one manifest read per fence plus ONE recursive
  * staging listing — never an exists() round trip per redirected name.
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
  private def planCountsOpt(key: String, value: String): (Int, Int, Int) = {
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    conf // ensure the scheme is registered
    spark.sparkContext // planInputPartitions resolves the active session
    val batch = new EdfDataSource()
      .getTable(EdfDataSource.Schema, Array.empty,
        java.util.Map.of(key, value))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build().toBatch
    // The counters are global statics: reset-measure-read is atomic
    // only under the shared lock (see CountingFileSystem.measureLock).
    CountingFileSystem.measureLock.synchronized {
      CountingFileSystem.reset()
      val n = batch.planInputPartitions().length
      assert(n > 0, s"$key=$value planned nothing")
      CountingFileSystem.counts
    }
  }

  private def planCounts(pattern: String): (Int, Int, Int) =
    planCountsOpt("path", s"cfs:$pattern")

  /** Encode a paths option with a real JSON writer (what
    * DataFrameReader.load does) — naive quoting would produce invalid
    * JSON for a path containing '"' or '\' and, under the strict
    * parser, fail the test on the parse error instead of its budget.
    */
  private def pathsJson(paths: Seq[String]): String =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(paths.toArray)

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
  //   glob load:      listings 3 (+ 1+2f), HEADs small-const, reads f
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

  test("steady-state glob load: data glob + two sibling probes, zero reads") {
    val d = mkDir("rpc_glob_steady", files = 2, fences = 0)
    val (ls, st, op) = planCounts(s"$d/*.edf")
    // Three single-directory globs (data + manifest probe + committed
    // probe) — one listing each; constant however many files match.
    assert(ls == 3, s"listings=$ls (want 3: data glob + 2 fence probes)")
    assert(op == 0, s"opens=$op (want 0)")
    assert(st == 1, s"stats=$st (want 1: globber component check)")
    val wide = mkDir("rpc_glob_wide", files = 50, fences = 0)
    assert(planCounts(s"$wide/*.edf") == ((3, 1, 0)),
      "steady-state glob cost grew with file count")
  }

  test("fenced glob load: constant probes + one read per fence") {
    val d = mkDir("rpc_glob_fenced", files = 1, fences = 2)
    val (ls, st, op) = planCounts(s"$d/*.edf")
    // 3 glob listings + the staging walk (1 + 2 per crashed query).
    assert(ls == 4 + 2 * 2, s"listings=$ls (want 8)")
    assert(op == 2, s"opens=$op (want 2: one read per fence)")
    assert(st == 1 + 2, s"stats=$st (want 3: constant per fence)")
  }

  test("duplicate multi-path specs are planned once") {
    // load(dir, dir) must cost exactly load(dir): specs dedup before
    // planning, so a repeated member cannot double the listing/read
    // budget (or the fenced staging walk) on an object store.
    val d = mkDir("rpc_dupspec", files = 2, fences = 1)
    val single = planCounts(d)
    val dup = planCountsOpt("paths", pathsJson(Seq(s"cfs:$d", s"cfs:$d")))
    assert(dup == single,
      s"duplicate spec re-planned: $dup != $single")
  }

  test("fenced multi-directory glob: 3·(1+N) listings + per-fence cost only") {
    // The 100 TB read shape: one glob spanning N partition directories
    // of which k carry a crashed export's fence. The budget must be
    // EXACTLY the steady multi-dir budget plus k·(one manifest read +
    // one manifest-length HEAD + one 3-listing staging walk) — nothing
    // per data file, nothing per unfenced directory beyond the glob's
    // own 3 listings, no cross-directory interference.
    // Two files per directory, NOT one: Hadoop's Globber cannot tell a
    // one-entry listing of a directory from a listing of a file, so it
    // disambiguates every SINGLE-CHILD matched directory with an extra
    // getFileStatus per glob (3 per plan here) — a real object-store
    // cost worth knowing (single-file partition dirs pay 3 extra HEADs
    // per planned glob), but the Globber's, not the planner's, so this
    // pin keeps it out of frame.
    def layout(fenced: Set[Int]): String = {
      val base = tmpDir("rpc_multifence")
      (0 until 6).foreach { i =>
        Files.createDirectories(Paths.get(s"$base/d$i"))
        Files.write(Paths.get(s"$base/d$i/rec0.edf"), "x".getBytes(UTF_8))
        Files.write(Paths.get(s"$base/d$i/rec1.edf"), "x".getBytes(UTF_8))
        if (fenced(i)) {
          val stage = Paths.get(s"$base/d$i/_temporary/q$i/task-0-0")
          Files.createDirectories(stage)
          val staged = stage.resolve(s"new$i.edf")
          Files.write(staged, "staged".getBytes(UTF_8))
          Files.write(Paths.get(s"$base/d$i/" + EdfBatchWrite.fenceName(
            EdfBatchWrite.ManifestPrefix, 1, s"q$i")),
            s"$staged\tnew$i.edf\n".getBytes(UTF_8))
        }
      }
      base
    }
    assert(planCounts(s"${layout(Set.empty)}/*/*.edf") == ((3 * (1 + 6), 1, 0)),
      "steady multi-dir baseline moved")
    val k = 2
    val (ls, st, op) = planCounts(s"${layout(Set(1, 4))}/*/*.edf")
    assert(ls == 3 * (1 + 6) + k * 3,
      s"listings=$ls (want ${3 * (1 + 6) + k * 3}: 3·(1+N) glob + one " +
        "3-listing staging walk per fenced dir)")
    assert(op == k, s"opens=$op (want $k: one manifest read per fence)")
    assert(st == 1 + k,
      s"stats=$st (want ${1 + k}: the spec isDirectory probe + one " +
        "manifest-length HEAD per fence)")
  }

  test("multi-path load costs exactly the sum of its members' budgets") {
    // load(steadyDir, fencedDir, glob) over three DISTINCT directories:
    // the union of per-spec plans must not re-list, re-probe, or
    // re-read anything across members — the multi-path budget is the
    // member budgets' exact sum (the VERDICT r13 item 2(b) pin; the
    // dup-spec test above pins the other side, that a REPEATED member
    // costs zero).
    val steadyDir = mkDir("rpc_sum_dir", files = 2, fences = 0)
    val fencedDir = mkDir("rpc_sum_fenced", files = 1, fences = 1)
    val globDir = mkDir("rpc_sum_glob", files = 2, fences = 0)
    val members = Seq(steadyDir, fencedDir, s"$globDir/*.edf")
    val single = members.map(m => planCounts(m))
    val sum = single.reduce((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    // Known per-member budgets (pinned individually above): steady dir
    // (1,1,0) + one-fence dir (4,2,1) + steady glob (3,1,0) = (8,4,1).
    assert(sum == ((8, 4, 1)), s"member budgets moved: $single")
    val multi = planCountsOpt("paths", pathsJson(members.map("cfs:" + _)))
    assert(multi == sum,
      s"multi-path load cost diverged from the sum of its members: " +
        s"$multi != $sum")
  }

  test("multi-directory glob: constant listings per directory spanned") {
    val base = tmpDir("rpc_multi")
    val dirs = 8
    (0 until dirs).foreach { i =>
      Files.createDirectories(Paths.get(s"$base/d$i"))
      Files.write(Paths.get(s"$base/d$i/rec0.edf"), "x".getBytes(UTF_8))
    }
    val (ls, st, op) = planCounts(s"$base/*/*.edf")
    // Each of the 3 globs (data + 2 probes) lists the base once and each
    // matched directory once: 3 * (1 + dirs). The planner adds nothing
    // per FILE — the per-directory constant is what survives a 100 TB
    // many-partition layout (the ScaleCheck glob_plan leg pins the
    // wall-clock side of this).
    assert(ls == 3 * (1 + dirs), s"listings=$ls (want ${3 * (1 + dirs)})")
    assert(op == 0, s"opens=$op (want 0)")
  }
}
