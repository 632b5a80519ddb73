package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Model-level confidence for the glob planner
  * ([[EdfScanBuilder]]'s planInputPartitions): the hand-written parity
  * cases in [[EdfDataSourceSpec]] pin individual corners, but the case
  * space (export / crash-at-rename-index / roll-forward / destroyed
  * staging / brace patterns / multi-directory) is adversarial — four
  * round-12 review passes kept finding real defects in it. This spec
  * pins the equivalence GLOBALLY: random commit-protocol histories over
  * three directories, and after EVERY operation, for a battery of
  * patterns (literal dir, `*.edf`, name prefixes, `*`, multi-dir globs,
  * dir-match expansion, slash-free and slash-spanning braces, the
  * dir-and-file overlap, a never-matching pattern) PLUS generated
  * multi-path spec lists drawn from that same battery (with forced
  * duplicates and forced loud members — the union/dedup/per-member-
  * loudness surface of `load(a, b, …)`), the REAL planner's
  * served view must equal an in-memory oracle that replays the ONE
  * documented per-name manifest rule directly — walk a name's mentions
  * newest-first and follow the first fence that can DELIVER it
  * (committed marker → the final; surviving staged copy → the staged
  * bytes; existing final → the final; ghost → fall through) — plus the
  * visibility gates (directory loads serve `*.edf` data names; glob
  * loads serve what the pattern matches, pending names gated by the
  * matching alternative's own name component).
  *
  * Histories are simulated at the protocol level (the fence files,
  * staged copies, and promotion renames the writer produces — the same
  * states [[EdfDataSourceSpec]]'s stageAndCrash drives through the real
  * writer, plus foreign/hand-made manifests which are in scope there
  * too), so one run covers hundreds of layouts without paying a Spark
  * write job per step; planning itself and rollForward are the REAL
  * code. Planning never parses EDF payloads, so file contents are
  * version strings — what the view maps compare.
  */
class EdfGlobPropertySpec extends SparkSpec {

  private def hconf = spark.sparkContext.hadoopConfiguration

  // ---- history model ------------------------------------------------

  private sealed trait Op
  /** One export of `names` into d`dir`. `crashAt = Some(k)`: the job
    * published its manifest and crashed after the first k promotion
    * renames (k = names.size: crashed between promotion and the
    * committed marker). `None`: a clean, fully-committed export.
    */
  private case class Export(dir: Int, names: Seq[String],
      crashAt: Option[Int]) extends Op
  private case class Roll(dir: Int) extends Op
  /** Destroy one surviving staging subtree (ghost mentions). */
  private case class DestroyStaging(dir: Int, pick: Int) extends Op
  /** A crashed export's zombie driver resumes its promotion renames
    * LATE — possibly after newer exports already published or committed
    * over the same names. Scope of what this checks: for a name still
    * under a newer STAGED manifest, the fence must keep the newer
    * export owning reads regardless of stale bytes landing on the
    * final; for a name whose newer export fully committed AND retired
    * its fences, the stale rename wins in content — the protocol's
    * documented last-wins-undefined concurrency rule
    * ([[EdfWriteBuilder]] scaladoc), identical to plain
    * rename-overwrite. The property verifies that planner and oracle
    * tell the SAME story in both cases (consistency), not freshness.
    */
  private case class ZombiePromote(dir: Int, pick: Int) extends Op
  /** The zombie finishes COMPLETELY: promotes, publishes its committed
    * marker, retires its manifest and staging — the full delayed commit
    * racing whatever happened since. Same consistency-not-freshness
    * scope as [[ZombiePromote]].
    */
  private case class ZombieFinish(dir: Int, pick: Int) extends Op

  private def deleteRec(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p) // close the stream: this runs thousands of
      try s.forEach(c => deleteRec(c)) finally s.close() // times per run
    }
    Files.deleteIfExists(p)
  }

  /** Replays one operation against the real filesystem, following the
    * commit protocol's documented steps (EdfBatchWrite.commit scaladoc):
    * stage → publish manifest at max(existing seq)+1 → promote in order
    * → publish committed marker → retire manifest, staging, and (iff no
    * staged manifest remains) all committed markers.
    */
  private def applyOp(base: String, op: Op, qid: String): Unit = op match {
    case Export(d, names, crashAt) =>
      val dirPath = new Path(s"$base/d$d")
      val fs = dirPath.getFileSystem(hconf)
      val stage = Paths.get(s"$base/d$d/_temporary/$qid/task-0-0")
      Files.createDirectories(stage)
      val pairs = names.sorted.map { n =>
        val sp = stage.resolve(n)
        Files.write(sp, s"$qid:$n".getBytes(UTF_8))
        (sp.toString, n)
      }
      val seq = (EdfBatchWrite.listFences(fs, dirPath).map(_.seq) :+ 0).max + 1
      val content = pairs.map { case (s, n) => s"$s\t$n" }
        .mkString("", "\n", "\n")
      val manifest = Paths.get(s"$base/d$d/" +
        EdfBatchWrite.fenceName(EdfBatchWrite.ManifestPrefix, seq, qid))
      Files.write(manifest, content.getBytes(UTF_8))
      val k = crashAt.getOrElse(pairs.length)
      pairs.take(k).foreach { case (s, n) =>
        Files.move(Paths.get(s), Paths.get(s"$base/d$d/$n"),
          StandardCopyOption.REPLACE_EXISTING)
      }
      if (crashAt.isEmpty) finishCommit(base, d, seq, qid, manifest, content)
    case Roll(d) =>
      EdfExportRecovery.rollForward(s"$base/d$d", hconf)
    case DestroyStaging(d, pick) =>
      val temp = new java.io.File(s"$base/d$d/_temporary")
      val subs = Option(temp.listFiles()).map(_.filter(_.isDirectory)
        .sortBy(_.getName)).getOrElse(Array.empty)
      if (subs.nonEmpty) deleteRec(subs(pick % subs.length).toPath)
    case ZombiePromote(d, pick) =>
      zombie(base, d, pick, finish = false)
    case ZombieFinish(d, pick) =>
      zombie(base, d, pick, finish = true)
  }

  /** Replays a crashed manifest's remaining promotion renames; with
    * `finish`, also its committed-marker publish and retirement steps.
    */
  private def zombie(base: String, d: Int, pick: Int,
      finish: Boolean): Unit = {
    val dirPath = new Path(s"$base/d$d")
    val fs = dirPath.getFileSystem(hconf)
    val manifests = EdfBatchWrite.listFences(fs, dirPath)
      .filter(!_.committed)
    if (manifests.isEmpty) return
    val f = manifests(pick % manifests.size)
    val entries = EdfBatchWrite.readManifest(fs, f.path)
    entries.foreach { case (staged, name) =>
      val sp = Paths.get(stripScheme(staged))
      if (Files.isRegularFile(sp))
        Files.move(sp, Paths.get(s"$base/d$d/$name"),
          StandardCopyOption.REPLACE_EXISTING)
    }
    if (finish)
      finishCommit(base, d, f.seq, f.qid,
        Paths.get(stripScheme(f.path.toString)),
        entries.map { case (s, n) => s"$s\t$n" }.mkString("", "\n", "\n"))
  }

  /** The commit-retirement steps shared by a clean export and a zombie
    * finish (ONE copy, so the model cannot silently fork the protocol):
    * publish the committed marker, retire the manifest and its query's
    * staging tree, retire ALL markers iff no staged manifest remains,
    * and drop the staging root iff empty — mirroring
    * EdfBatchWrite.commit steps 4–5.
    */
  private def finishCommit(base: String, d: Int, seq: Int, qid: String,
      manifest: java.nio.file.Path, content: String): Unit = {
    val dirPath = new Path(s"$base/d$d")
    val fs = dirPath.getFileSystem(hconf)
    Files.write(Paths.get(s"$base/d$d/" + EdfBatchWrite.fenceName(
      EdfBatchWrite.CommittedPrefix, seq, qid)), content.getBytes(UTF_8))
    Files.deleteIfExists(manifest)
    deleteRec(Paths.get(s"$base/d$d/_temporary/$qid"))
    val left = EdfBatchWrite.listFences(fs, dirPath)
    if (!left.exists(!_.committed))
      left.foreach(g => fs.delete(g.path, false))
    // Non-recursive root cleanup, like the real commit: only when no
    // other query is still staging under it.
    try Files.deleteIfExists(Paths.get(s"$base/d$d/_temporary"))
    catch { case _: java.nio.file.DirectoryNotEmptyException => () }
  }

  // ---- the in-memory oracle -----------------------------------------

  private case class DirState(finals: Set[String],
      mentions: Map[String, Seq[(EdfBatchWrite.Fence, String)]])

  private def dirState(dir: String): DirState = {
    val p = new Path(dir)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) return DirState(Set.empty, Map.empty)
    val listed = fs.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
    DirState(
      listed.map(_.getName).filterNot(EdfBatchWrite.hiddenName).toSet,
      EdfBatchWrite.mentionsByName(fs, EdfBatchWrite.fencesOf(listed)))
  }

  private def stripScheme(s: String): String = s.stripPrefix("file:")
  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(stripScheme(p))), UTF_8)

  /** The ONE documented per-name rule: walk the name's mentions
    * newest-first; the first fence that can DELIVER it wins.
    */
  private def resolveName(dir: String, name: String,
      st: DirState): Option[String] = {
    val finalExists = st.finals.contains(name)
    def finalContent = Some(read(s"$dir/$name"))
    val it = st.mentions.getOrElse(name, Nil).reverseIterator
    while (it.hasNext) {
      val (fence, staged) = it.next()
      if (fence.committed)
        return if (finalExists) finalContent else None
      if (Files.isRegularFile(Paths.get(stripScheme(staged))))
        return Some(read(staged))
      if (finalExists) return finalContent
      // ghost mention: fall through to the next-older fence
    }
    if (finalExists) finalContent else None
  }

  private def dataName(n: String): Boolean =
    !EdfBatchWrite.hiddenName(n) && n.toLowerCase.endsWith(".edf")

  /** Expected directory-load view of d`d`: every data name (listed or
    * pending) resolved by the rule. Keys are base-relative paths.
    */
  private def oracleDirView(base: String, d: Int): Map[String, String] = {
    val dir = s"$base/d$d"
    val st = dirState(dir)
    (st.finals ++ st.mentions.keySet).filter(dataName).toSeq
      .flatMap(n => resolveName(dir, n, st).map(c => s"d$d/$n" -> c)).toMap
  }

  /** Expected single-directory glob view: names (listed or pending)
    * matching the pattern's name component, resolved by the same rule.
    */
  private def oracleGlobView(base: String, d: Int,
      nameGlob: String): Map[String, String] = {
    val g = new org.apache.hadoop.fs.GlobFilter(nameGlob)
    val dir = s"$base/d$d"
    val st = dirState(dir)
    (st.finals ++ st.mentions.keySet)
      .filter(n => !EdfBatchWrite.hiddenName(n) && g.accept(new Path(n)))
      .toSeq
      .flatMap(n => resolveName(dir, n, st).map(c => s"d$d/$n" -> c)).toMap
  }

  // ---- the real planner's served view -------------------------------

  private def planParts(optKey: String,
      optValue: String): Seq[EdfInputPartition] = {
    import org.apache.spark.sql.connector.catalog.SupportsRead
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    new EdfDataSource()
      .getTable(EdfDataSource.Schema, Array.empty,
        java.util.Map.of(optKey, optValue))
      .asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toBatch.planInputPartitions().toSeq
      .map(_.asInstanceOf[EdfInputPartition])
  }

  /** What the planned partitions serve: relative logical path → the
    * first existing read candidate's content. Also pins the invariant
    * that no logical path is ever planned twice.
    */
  private def viewOf(base: String, what: String,
      parts: Seq[EdfInputPartition]): Map[String, String] = {
    assert(parts.map(_.path).distinct.size == parts.size,
      s"$what planned duplicate logical paths: " +
        parts.map(_.path).mkString(", "))
    parts.map { part =>
      val phys =
        if (part.readPaths.isEmpty) part.path
        else part.readPaths
          .find(s => Files.isRegularFile(Paths.get(stripScheme(s))))
          .getOrElse(sys.error(
            s"no read candidate of ${part.path} exists: ${part.readPaths}"))
      val rel = stripScheme(part.path).stripPrefix(base).stripPrefix("/")
      rel -> read(phys)
    }.toMap
  }

  /** Plans `pattern` through the REAL scan and reads what each partition
    * would serve (first existing read candidate). Left = the loud
    * no-match partition (a read of it fails with file-not-found).
    */
  private def plannedView(base: String,
      pattern: String): Either[String, Map[String, String]] = {
    val parts = planParts("path", pattern)
    if (parts.exists(_.noMatch)) Left("loud-no-match")
    else Right(viewOf(base, s"pattern $pattern", parts))
  }

  /** A multi-path load (the JSON-encoded `paths` option Spark's
    * DataFrameReader sends for `load(a, b, …)`). Left when ANY member
    * spec planned its loud no-match partition — one bad member fails
    * the whole read, like Spark's file sources.
    */
  private def plannedViewMulti(base: String,
      patterns: Seq[String]): Either[String, Map[String, String]] = {
    // Encode with a real JSON writer (what DataFrameReader.load does) —
    // naive quoting would produce invalid JSON for a path containing
    // '"' or '\' and silently weaken the check to a single-literal parse.
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(patterns.toArray)
    val parts = planParts("paths", json)
    if (parts.exists(_.noMatch)) Left("loud-no-match")
    else Right(viewOf(base, s"paths $json", parts))
  }

  /** Does the raw pattern match anything non-hidden? (What decides
    * loud-no-match vs a legitimately empty scan.)
    */
  private def rawMatches(pattern: String): Boolean = {
    val p = new Path(pattern)
    val fs = p.getFileSystem(hconf)
    Option(fs.globStatus(p)).toSeq.flatten
      .exists(s => !EdfBatchWrite.hiddenName(s.getPath.getName))
  }

  private def checkPattern(base: String, pattern: String,
      expected: Map[String, String]): Unit = {
    val want: Either[String, Map[String, String]] =
      if (expected.isEmpty && !rawMatches(pattern)) Left("loud-no-match")
      else Right(expected)
    val got = plannedView(base, pattern)
    assert(got == want, s"pattern $pattern:\n  got  = $got\n  want = $want")
  }

  /** The pattern battery AS DATA — pattern → its oracle, computed at
    * check time (the state changes after every op). ONE source of
    * truth for both the single-pattern checks and the generated
    * multi-path spec lists, so a load spelling added here is
    * automatically drawn into random `load(a, b, …)` combinations.
    * The LAST entry is the never-matching pattern (the generators
    * lean on that to force a loud member into a spec list).
    */
  private def battery(
      base: String): Seq[(String, () => Map[String, String])] = {
    def dv(d: Int) = oracleDirView(base, d)
    def gv(d: Int, g: String) = oracleGlobView(base, d, g)
    (0 to 2).flatMap(d => Seq[(String, () => Map[String, String])](
      (s"$base/d$d", () => dv(d)),
      (s"$base/d$d/*.edf", () => gv(d, "*.edf")),
      (s"$base/d$d/a*.edf", () => gv(d, "a*.edf")),
      (s"$base/d$d/*", () => gv(d, "*")))) ++
    Seq[(String, () => Map[String, String])](
      (s"$base/*/*.edf", () => (0 to 2).map(gv(_, "*.edf")).reduce(_ ++ _)),
      (s"$base/*", () => (0 to 2).map(dv).reduce(_ ++ _)),
      // Literal name over a glob parent: a pending a.edf in ANY fenced
      // dir must surface; everything else must not.
      (s"$base/*/a.edf", () => (0 to 2).map(gv(_, "a.edf")).reduce(_ ++ _)),
      // Character-class parent component.
      (s"$base/d[01]/*.edf", () => gv(0, "*.edf") ++ gv(1, "*.edf")),
      (s"$base/{d0,d1}/*.edf", () => gv(0, "*.edf") ++ gv(1, "*.edf")),
      // Slash inside braces: fence-only directories must stay visible
      // and pending names must obey their own alternative's name
      // component.
      (s"$base/{d0/a.edf,d1/*.edf}", () => gv(0, "a.edf") ++ gv(1, "*.edf")),
      // Dir-and-file brace overlap: union of both branches, dedup'd.
      (s"$base/{d0,d0/a*.edf}", () => dv(0) ++ gv(0, "a*.edf")),
      // Overlap whose file component matches NON-edf names: a foreign
      // manifest's pending w.bin is served only by the file branch, so
      // the union must keep the file branch's targets beside the
      // directory's when fences exist.
      (s"$base/{d0,d0/w*}", () => dv(0) ++ gv(0, "w*")),
      (s"$base/d0/nomatch*.edf", () => Map.empty))
  }

  /** Battery size for the generators (layout-independent). */
  private lazy val batterySize = battery("/x").size

  /** What a single spec must serve (Left = the loud no-match). */
  private def wantOf(pattern: String,
      oracle: () => Map[String, String]): Either[String, Map[String, String]] = {
    val expected = oracle()
    if (expected.isEmpty && !rawMatches(pattern)) Left("loud-no-match")
    else Right(expected)
  }

  /** A multi-path load must serve the UNION of its members' single-load
    * oracles — dedup'd by logical path, which [[viewOf]]'s
    * no-duplicate-partitions assert enforces on the planned side — and
    * must stay LOUD when ANY member alone would be (per-member
    * loudness: one typo'd spec fails the read, never silently thins it).
    */
  private def checkMulti(base: String,
      members: Seq[(String, () => Map[String, String])]): Unit = {
    val wants = members.map { case (p, o) => wantOf(p, o) }
    val want: Either[String, Map[String, String]] =
      if (wants.exists(_.isLeft)) Left("loud-no-match")
      else Right(wants.collect { case Right(m) => m }
        .foldLeft(Map.empty[String, String])(_ ++ _))
    val got = plannedViewMulti(base, members.map(_._1))
    assert(got == want, s"multi-path load(${members.map(_._1).mkString(", ")}):" +
      s"\n  got  = $got\n  want = $want")
  }

  /** The full battery: every load spelling must equal its oracle —
    * singly, and in this case's generated multi-path combinations.
    */
  private def checkAll(base: String, specLists: Seq[Seq[Int]]): Unit = {
    val bat = battery(base)
    bat.foreach { case (pattern, oracle) =>
      checkPattern(base, pattern, oracle())
    }
    // Two FIXED multi-path cases so every op of every history covers
    // the cross-spec dedup classes deterministically: the disjoint
    // union, and the overlapping dir+glob pair whose duplicate logical
    // paths the union-level dedup must drop.
    checkMulti(base, Seq(bat(0), bat(4)))       // load(d0, d1)
    checkMulti(base, Seq(bat(0), bat(2)))       // load(d0, d0/a*.edf)
    // ...plus the generated spec lists (duplicates, overlaps, and loud
    // members included by construction — see the generators).
    specLists.foreach(idxs => checkMulti(base, idxs.map(i => bat(i))))
  }

  // ---- generators ----------------------------------------------------

  private val genNames: Gen[Seq[String]] = for {
    edf <- Gen.nonEmptyListOf(Gen.oneOf("a.edf", "ab.edf", "b.edf"))
      .map(_.distinct)
    bin <- Gen.frequency(4 -> Gen.const(Seq.empty[String]),
      1 -> Gen.const(Seq("w.bin"))) // foreign manifests are in scope
  } yield edf ++ bin

  private val genDir: Gen[Int] = Gen.choose(0, 2)

  private val genExport: Gen[Op] = for {
    d <- genDir
    ns <- genNames
    crash <- Gen.frequency(
      1 -> Gen.const(Option.empty[Int]),
      2 -> Gen.choose(0, ns.length).map(Option(_)))
  } yield Export(d, ns, crash)

  private val genOp: Gen[Op] = Gen.frequency(
    5 -> genExport,
    2 -> genDir.map(Roll.apply),
    1 -> (for { d <- genDir; k <- Gen.choose(0, 9) }
      yield DestroyStaging(d, k)),
    1 -> (for { d <- genDir; k <- Gen.choose(0, 9) }
      yield ZombiePromote(d, k)),
    1 -> (for { d <- genDir; k <- Gen.choose(0, 9) }
      yield ZombieFinish(d, k)))

  private val genHistory: Gen[List[Op]] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, genOp))

  /** A multi-path spec list: 2–3 members drawn from the battery, then
    * — because the planner's history says hand-picked cases
    * under-cover this case space — a forced duplicate member 1 time
    * in 4 (the union-level dedup class) and a forced never-matching
    * member 1 time in 5 (the per-member loudness class; the battery's
    * LAST entry matches nothing by construction). Overlapping
    * dir+glob pairs arise naturally: any two battery entries over the
    * same directory overlap.
    */
  private val genSpecList: Gen[Seq[Int]] = for {
    n <- Gen.choose(2, 3)
    idxs <- Gen.listOfN(n, Gen.choose(0, batterySize - 1))
    dup <- Gen.frequency(3 -> Gen.const(false), 1 -> Gen.const(true))
    loud <- Gen.frequency(4 -> Gen.const(false), 1 -> Gen.const(true))
  } yield {
    val withDup = if (dup) idxs.head +: idxs else idxs
    if (loud) withDup :+ (batterySize - 1) else withDup
  }

  /** Per history case: 1–2 generated spec lists, checked after EVERY
    * operation (like the single-pattern battery).
    */
  private val genSpecLists: Gen[Seq[Seq[Int]]] =
    Gen.choose(1, 2).flatMap(n => Gen.listOfN(n, genSpecList))

  // ---- the property ---------------------------------------------------

  test("glob load ≡ directory load ≡ manifest-rule oracle over 300 random histories") {
    spark.sparkContext // force the active session planInputPartitions needs
    var histories = 0
    val prop = Prop.forAllNoShrink(genHistory, genSpecLists) {
        (ops, specLists) =>
      val base = tmpDir("edfglobprop")
      (0 to 2).foreach(d => Files.createDirectories(Paths.get(s"$base/d$d")))
      ops.zipWithIndex.foreach { case (op, i) =>
        val before = op match {
          case Roll(d) => Some(d -> oracleDirView(base, d))
          case _ => None
        }
        applyOp(base, op, f"q$i%02d")
        // Recovery must never change what readers see — it makes the
        // already-visible state durable.
        before.foreach { case (d, view) =>
          assert(oracleDirView(base, d) == view,
            s"rollForward changed the served view of d$d: " +
              s"$view -> ${oracleDirView(base, d)}")
        }
        checkAll(base, specLists)
      }
      histories += 1
      true
    }
    // Default: a fixed seed so CI is deterministic. Soak runs override:
    // GRAFT_GLOB_PROP_SEED=777 GRAFT_GLOB_PROP_N=1000 sbt "testOnly
    // graft.sources.EdfGlobPropertySpec".
    val seed = sys.env.get("GRAFT_GLOB_PROP_SEED").map(_.toLong)
      .getOrElse(42L)
    val n = sys.env.get("GRAFT_GLOB_PROP_N").map(_.toInt).getOrElse(300)
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(n).withWorkers(1)
      .withInitialSeed(Seed(seed)), prop)
    assert(res.passed, s"failed after $histories green histories: ${res.status}")
  }
}
