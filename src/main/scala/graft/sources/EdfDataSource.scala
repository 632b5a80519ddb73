package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.edf.Edf

/** DataSource V2 reader for EDF/EDF+ files: `spark.read.format("edf")
  * .option("chunk_records", n).load(dirOrFile)` — the polished form of the
  * S1 custom source (SURVEY §4.3; the `binaryFile` + `mapPartitions` path in
  * [[graft.ingest.Ingest]] remains the pipeline's workhorse).
  *
  * One output row per (file, channel, record-chunk):
  * `(path, channel, sfreq, chunk_idx, t0_sec, samples array<double>)`.
  * One InputPartition per file (a PSG night is tens of MB — a natural task);
  * column pruning is honored: when `samples` is not required the reader
  * parses only headers and skips signal decoding entirely, so
  * channel-inventory queries over a corpus never touch the waveforms.
  * Filter pushdown is honored too: `path` predicates (equality/In/
  * contains/prefix/suffix) prune whole FILES out of the partition plan
  * before anything is opened, and `channel` predicates narrow waveform
  * decode to the matching signals ([[Edf.parseSignals]]) — at a 100 TB
  * corpus a single-channel study reads 1/N of the decode cost. Pushdown
  * only skips work; every filter is still re-evaluated post-scan.
  */
class EdfDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "edf"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EdfDataSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new EdfTable(properties.asScala.toMap)
}

object EdfDataSource {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("channel", StringType, nullable = false),
    StructField("sfreq", DoubleType, nullable = false),
    StructField("chunk_idx", IntegerType, nullable = false),
    StructField("t0_sec", DoubleType, nullable = false),
    StructField("samples", ArrayType(DoubleType, containsNull = false),
      nullable = true)))
}

private class EdfTable(properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = "edf"
  override def schema(): StructType = EdfDataSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EdfScanBuilder(
      {
        // A multi-path `load(a, b, …)` arrives in the `paths` option; this
        // source reads one directory or one file per load, so it fails
        // loudly rather than reading a subset.
        if (Option(options.get("paths")).orElse(properties.get("paths")).isDefined)
          throw new IllegalArgumentException(
            "edf: one directory or file per load; got several paths")
        Option(options.get("path")).orElse(properties.get("path"))
          .getOrElse(throw new IllegalArgumentException("edf: no path given"))
      },
      Option(options.get("chunk_records")).orElse(properties.get("chunk_records"))
        .map(_.toInt).getOrElse(3600),
      // `option("lenient", "true")`: salvage truncated recordings (MNE's
      // behavior — complete records + well-formed TALs) instead of the
      // strict default's per-file error; see [[graft.edf.Edf.parse]].
      Option(options.get("lenient")).orElse(properties.get("lenient"))
        .exists(_.toBoolean))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opt = (k: String) => Option(info.options.get(k)).orElse(properties.get(k))
    new EdfWriteBuilder(
      opt("path").getOrElse(
        throw new IllegalArgumentException("edf write: no path given")),
      info.queryId(),
      info.schema(),
      physMin = opt("phys_min").map(_.toDouble).getOrElse(-0.005),
      physMax = opt("phys_max").map(_.toDouble).getOrElse(0.005),
      recordDurationSec =
        opt("record_duration_sec").map(_.toDouble).getOrElse(1.0))
  }
}

/** DSv2 write path: `df.write.format("edf").mode("append").save(dir)` over
  * rows in the reader's own shape (`path, channel, sfreq, chunk_idx,
  * t0_sec, samples`) — one EDF file per distinct `path` value (its
  * basename, under the target dir). The writer declares
  * [[RequiresDistributionAndOrdering]]: rows CLUSTER by `path` and sort by
  * (path, channel, chunk_idx), so Spark's planner inserts the one shuffle
  * that lands every file's rows consecutively in one task and each writer
  * assembles files in a single streaming pass — no per-task buffering
  * beyond the file being built, which is how a 100 TB export stays
  * bounded: file parallelism scales with partitions while memory stays
  * O(one recording). Signal-only EDF (annotations are the reader's
  * concern); all channels of a file must share one sampling rate — the
  * writer validates and fails loudly otherwise.
  *
  * Concurrency contract: the commit protocol makes each job's output
  * reader-ATOMIC (all-or-nothing visibility, crash recovery via
  * [[EdfExportRecovery.rollForward]]), but it is NOT full isolation
  * between concurrent writers of the SAME basename: two exports racing
  * on one file name resolve last-wins by (commit sequence, queryId) —
  * deterministic, but which job "wins" each contested name is
  * scheduling-dependent, exactly as plain rename-overwrite was.
  * Concurrent jobs writing DISJOINT file names compose safely.
  */
private class EdfWriteBuilder(targetDir: String, queryId: String,
    schema: StructType, physMin: Double, physMax: Double,
    recordDurationSec: Double) extends WriteBuilder {

  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution =
      Distributions.clustered(Array(Expressions.identity("path")))
    override def requiredOrdering(): Array[SortOrder] = Array(
      Expressions.sort(Expressions.identity("path"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.identity("channel"), SortDirection.ASCENDING),
      Expressions.sort(Expressions.identity("chunk_idx"), SortDirection.ASCENDING))

    override def toBatch: BatchWrite = {
      val spark = org.apache.spark.sql.SparkSession.active
      val required = Seq("path", "channel", "sfreq", "chunk_idx", "samples")
      val missing = required.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty, s"edf write: missing columns $missing")
      new EdfBatchWrite(targetDir, queryId, schema,
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
        physMin, physMax, recordDurationSec)
    }
  }
}

/** Per-task commit message: (attempt-private temp path, final basename)
  * pairs. Files reach their final names only in [[EdfBatchWrite.commit]].
  */
private case class EdfWriteCommit(files: Seq[(String, String)])
    extends WriterCommitMessage

private class EdfBatchWrite(targetDir: String, queryId: String,
    schema: StructType, conf: SerializableConfiguration, physMin: Double,
    physMax: Double, recordDurationSec: Double) extends BatchWrite {

  /** Staging root for THIS query: two concurrent writes into the same
    * target dir must not share a staging tree, or one job's commit/abort
    * would delete the other's in-flight files (the same reason Spark's
    * file committers key their temp dirs by job/app attempt).
    */
  private def stagingDir: String =
    s"${EdfBatchWrite.TempDirName}/${EdfBatchWrite.sanitize(queryId)}"

  /** Set once [[commit]] publishes the staged manifest (the commit
    * point). From that instant the staged files are reader-visible
    * through the manifest redirect, and if promotion then fails
    * mid-loop, files already promoted replaced their destinations
    * (Rename.OVERWRITE — the pre-existing versions are gone) and the
    * staged remainder is the ONLY surviving copy of those task outputs
    * — so the abort that follows must leave the staging tree AND the
    * manifest intact for recovery instead of deleting them.
    */
  @volatile private var promotionStarted = false

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    EdfWriterFactory(targetDir, stagingDir, schema, conf, physMin, physMax,
      recordDurationSec)

  /** Name of this job's published manifest, for the abort-path message. */
  @volatile private var publishedManifest: String = null

  /** Writes `content` to a temp path in this query's staging tree and
    * publishes it at `dest` with ONE atomic rename — readers can never
    * observe a partial fence file.
    */
  private def publishFence(fs: FileSystem,
      fc: org.apache.hadoop.fs.FileContext, target: Path, dest: Path,
      content: String): Unit = {
    val tmp = new Path(target, s"$stagingDir/${dest.getName}.tmp")
    val os = fs.create(tmp, true)
    try os.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
    fc.rename(fs.makeQualified(tmp), fs.makeQualified(dest),
      org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Two-phase commit with an ATOMIC commit point: tasks stream into
    * attempt-unique dirs under `_temporary/` (so a retried or speculative
    * attempt can never clobber a committed file — its abort deletes only
    * attempt-private paths); the driver then, AFTER Spark's commit
    * coordination has picked exactly one winning attempt per partition:
    *
    *  1. validates (duplicate final basenames fail loudly before
    *     anything is touched),
    *  2. takes the next commit SEQUENCE for this directory
    *     (max over existing fence files + 1 — a clock-free total order:
    *     a re-run after a crash always outranks the crashed export) and
    *     publishes a `_STAGED_MANIFEST-<seq>-<queryId>` listing every
    *     (stagedPath, finalName) pair with ONE atomic rename — the job's
    *     commit point: a directory listing before it resolves to the old
    *     files; one after it resolves every listed name through its
    *     staged copy ([[EdfScanBuilder]] reads fences), so a reader
    *     observes the complete old state or the complete new state,
    *     never a half-promoted mix — the all-or-nothing behavior of the
    *     reference's transactional per-subject load
    *     (`warehouse/snowflake_client.py:133-152`),
    *  3. promotes staged files to final names (each rename atomic),
    *  4. publishes the `_COMMITTED-<seq>-<queryId>` marker (same
    *     entries), then retires its own manifest and staging tree — the
    *     marker FENCES any lower-sequence crashed manifest still lying
    *     around: per name, the highest-(seq, qid) fence wins, so a stale
    *     manifest can neither hijack reads nor make recovery overwrite
    *     newer data, and
    *  5. retires ALL committed markers iff no staged manifest remains
    *     (the steady state carries zero fence files).
    *
    * A crash or failure anywhere in step 3 leaves the manifest + staged
    * files in place: readers keep resolving the new state, and
    * [[EdfExportRecovery.rollForward]] completes the promotion
    * idempotently (roll FORWARD — the manifest only exists once the job
    * fully committed its task set).
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(conf.value)
    val pairs = messages.collect { case EdfWriteCommit(fs0) => fs0 }.flatten
    val dups = pairs.groupBy(_._2).filter(_._2.length > 1).keys.toSeq.sorted
    if (dups.nonEmpty) throw new IllegalStateException(
      s"edf write: duplicate output basenames ${dups.mkString(", ")} — " +
        "distinct input `path` values share a basename; they would " +
        "silently clobber each other")
    // Readers never serve hidden names, so committing one would be
    // silent data loss — fail loudly before anything is touched. This is
    // the cross-task backstop behind the writer's row-level rejection.
    val hiddenOut = pairs.map(_._2)
      .filter(EdfBatchWrite.hiddenName).distinct.sorted
    if (hiddenOut.nonEmpty) throw new IllegalStateException(
      EdfBatchWrite.hiddenBasenameError(hiddenOut.mkString(", ")))
    fs.mkdirs(target)
    // Atomic rename-with-overwrite (FileContext, not FileSystem.rename):
    // a delete-then-rename spelling has a window where a failed rename
    // leaves NEITHER the pre-existing committed file nor its staged
    // replacement — the abort that follows would delete the staging tree
    // too. Posix/HDFS rename-over replaces in one step.
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(target).toUri, conf.value)
    if (pairs.nonEmpty) {
      val mySeq =
        (EdfBatchWrite.listFences(fs, target).map(_.seq) :+ 0).max + 1
      val manifest = new Path(target,
        EdfBatchWrite.fenceName(EdfBatchWrite.ManifestPrefix, mySeq, queryId))
      val content = pairs.map { case (tmp, name) =>
        s"${fs.makeQualified(new Path(tmp))}\t$name"
      }.mkString("", "\n", "\n")
      publishFence(fs, fc, target, manifest, content)
      // Only AFTER the publish rename returned: a failed publish means
      // readers are still on the complete OLD state and nothing needs
      // recovery — the pre-commit-point abort (clean staging) is correct
      // for that window, and claiming otherwise would mislead operators.
      publishedManifest = manifest.getName
      promotionStarted = true
      pairs.foreach { case (tmp, name) =>
        fc.rename(fs.makeQualified(new Path(tmp)),
          fs.makeQualified(new Path(target, name)),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
      // Promotion complete: publish the committed marker BEFORE retiring
      // the manifest, so this commit keeps fencing lower-sequence crashed
      // manifests without a gap; then the manifest, then the staging
      // tree. A crash between the steps only leaks fence files /
      // an empty-ish staging dir that rollForward reclaims, never data.
      publishFence(fs, fc, target, new Path(target,
        EdfBatchWrite.fenceName(EdfBatchWrite.CommittedPrefix, mySeq,
          queryId)), content)
      fs.delete(manifest, false)
    }
    fs.delete(new Path(target, stagingDir), true)
    // Steady-state cleanup: markers only matter while a lower-sequence
    // crashed manifest could contest their names — when no staged
    // manifest remains, retire every marker (including this commit's).
    val fences = EdfBatchWrite.listFences(fs, target)
    if (!fences.exists(!_.committed))
      fences.filter(_.committed)
        .foreach(f => try fs.delete(f.path, false)
          catch { case NonFatal(_) => () })
    // Drop the shared _temporary root too iff no other query is staging
    // under it (non-recursive delete only succeeds on an empty dir).
    try fs.delete(new Path(target, EdfBatchWrite.TempDirName), false)
    catch { case NonFatal(_) => () }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    if (promotionStarted) {
      // The manifest is published → some files may have reached (and
      // REPLACED) final names; the staged remainder is the only copy of
      // the rest. Keep the staging tree AND manifest — readers keep
      // seeing the consistent new state through the manifest redirect —
      // and say so LOUDLY: an operator must know recovery data exists,
      // where it is, and how to finish the job.
      val fs = new Path(targetDir).getFileSystem(conf.value)
      val pairs = messages.collect { case EdfWriteCommit(fs0) => fs0 }.flatten
      val (staged, promoted) = pairs.partition { case (tmp, _) =>
        try fs.exists(new Path(tmp)) catch { case NonFatal(_) => true }
      }
      graft.Log.warn(
        s"[edf-export] job commit FAILED mid-promotion into $targetDir: " +
          s"${promoted.size} file(s) already promoted " +
          s"[${promoted.map(_._2).mkString(", ")}]; ${staged.size} still " +
          s"staged under $targetDir/$stagingDir " +
          s"[${staged.map(_._2).mkString(", ")}]. Staged files are the " +
          s"ONLY copy of those outputs; manifest $publishedManifest " +
          "keeps readers on the new state. Run " +
          "graft.sources.EdfExportRecovery.rollForward(" +
          s"\"$targetDir\", hadoopConf) to complete the promotion.")
      return
    }
    // No task output ever reached a final name (the manifest was never
    // published); drop THIS query's staging tree only — a concurrent
    // query's staging must survive. The shared root goes too iff empty
    // (non-recursive delete, as in commit).
    val fs = new Path(targetDir).getFileSystem(conf.value)
    try {
      fs.delete(new Path(targetDir, stagingDir), true)
      fs.delete(new Path(targetDir, EdfBatchWrite.TempDirName), false)
    } catch { case NonFatal(_) => () }
  }
}

private[graft] object EdfBatchWrite {
  val TempDirName = "_temporary"
  val ManifestPrefix = "_STAGED_MANIFEST-"
  val CommittedPrefix = "_COMMITTED-"
  def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9._-]", "_")

  /** The ONE spelling of the hidden-name convention (Spark's FileIndex,
    * Hadoop committers): underscore/dot-prefixed names are bookkeeping,
    * never data. Shared by the scan's data gates, the writer's row-level
    * rejection, and the commit backstop, so the three sites can never
    * drift apart.
    */
  def hiddenName(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  def hiddenBasenameError(names: String): String =
    s"edf write: hidden output basenames $names — underscore/dot-prefixed " +
      "names are reserved for bookkeeping and invisible to readers; " +
      "rename the input `path` values"

  /** One commit-protocol fence file: a staged manifest (in-flight or
    * crashed export) or a committed marker (a finished export that must
    * stay visible while LOWER-sequence crashed manifests linger, so
    * staleness is decidable without clocks). Both carry the same
    * `stagedPath TAB finalName` lines. `(seq, qid)` totally orders
    * commits: the sequence number is taken as max(existing)+1 at commit
    * time, so a re-run after a crash always fences the crashed export;
    * the queryId string breaks the (pathological) tie of two exports
    * that scanned concurrently — concurrent exporters of the SAME file
    * name remain last-wins-undefined, exactly as plain rename-overwrite
    * was, but the resolution is at least deterministic.
    */
  final case class Fence(seq: Int, qid: String, path: Path,
      committed: Boolean) {
    def key: (Int, String) = (seq, qid)
  }

  def fenceName(prefix: String, seq: Int, queryId: String): String =
    f"$prefix$seq%09d-${sanitize(queryId)}"

  private def parseFence(p: Path): Option[Fence] = {
    val n = p.getName
    val (prefix, committed) =
      if (n.startsWith(ManifestPrefix)) (ManifestPrefix, false)
      else if (n.startsWith(CommittedPrefix)) (CommittedPrefix, true)
      else return None
    val rest = n.stripPrefix(prefix)
    val dash = rest.indexOf('-')
    // The sequence segment [[fenceName]] writes is AT LEAST nine digits
    // (%09d): anything shorter is not this protocol's fence — treating
    // it as a stray file keeps a lucky all-digit queryId prefix from
    // ever masquerading as a huge sequence number and hijacking the
    // total order.
    if (dash < 9) None
    else rest.substring(0, dash).toIntOption
      .map(seq => Fence(seq, rest.substring(dash + 1), p, committed))
  }

  /** All fence files in `target`, ordered by commit order (seq, qid). */
  def listFences(fs: FileSystem, target: Path): Seq[Fence] =
    if (!fs.exists(target)) Nil
    else fs.listStatus(target).toSeq.filter(_.isFile)
      .flatMap(s => parseFence(s.getPath))
      .sortBy(_.key)

  /** Fences parsed from an already-obtained listing (the reader's path —
    * no second listStatus round trip).
    */
  def fencesOf(paths: Seq[Path]): Seq[Fence] =
    paths.flatMap(parseFence).sortBy(_.key)

  /** Parse a fence file's entries: one `stagedPath TAB finalName` line
    * per file. Shared by the reader's redirect resolution and
    * [[EdfExportRecovery.rollForward]].
    */
  def readManifest(fs: FileSystem, m: Path): Seq[(String, String)] = {
    val len = fs.getFileStatus(m).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(m)
    try in.readFully(0, buf) finally in.close()
    new String(buf, java.nio.charset.StandardCharsets.UTF_8)
      .split('\n').toSeq.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('\t')
        require(i > 0, s"malformed manifest line in $m: '${line.take(80)}'")
        (line.substring(0, i), line.substring(i + 1))
      }
  }

  /** Every fence's entries, read ONCE, grouped per final name in fence
    * order (ascending (seq, qid)) — the shared input to the per-name
    * resolution rule readers and recovery apply: walk a name's mentions
    * newest-first and follow the first fence that can DELIVER it.
    * Fences whose file vanished between listing and read were retired
    * by a completing commit — their promotion finished, so skipping
    * them is correct.
    */
  def mentionsByName(fs: FileSystem,
      fences: Seq[Fence]): Map[String, Seq[(Fence, String)]] = {
    val out = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[(Fence, String)]]
    fences.sortBy(_.key).foreach { f =>
      val entries =
        try readManifest(fs, f.path)
        catch { case _: java.io.FileNotFoundException => Nil }
      entries.foreach { case (staged, name) =>
        out.getOrElseUpdate(name,
          scala.collection.mutable.ArrayBuffer.empty) += ((f, staged))
      }
    }
    out.view.mapValues(_.toSeq).toMap
  }
}

/** Crash recovery for the EDF export's two-phase commit: if a job died
  * (or was sabotaged) between publishing its `_STAGED_MANIFEST-*` and
  * finishing promotion, the manifest + staged files survive and readers
  * already resolve the new state through them — this helper makes that
  * state durable by replaying the manifest. Roll-FORWARD is always
  * correct because the manifest is only ever published after every task
  * committed its output (the job's commit point). Idempotent: entries
  * whose staged file is gone were already promoted.
  */
object EdfExportRecovery {

  /** Resolve every name mentioned by the staged manifests under
    * `targetDir` with the reader's own rule — walk its mentions
    * newest-first and follow the first fence that can DELIVER it: a
    * committed marker or an existing final file keeps the final (a
    * stale crashed export can never overwrite newer data), a manifest
    * whose staged copy survives gets it promoted, and a ghost mention
    * (no staged, no final) falls through to the next-older fence — so
    * recovery never discards the only surviving copy of an output.
    * Surviving-but-outranked staged copies are logged as dropped. Then
    * every manifest, its query's staging tree, and the committed
    * markers are retired — the steady state carries zero fence files.
    * Returns the final names promoted by THIS call; idempotent.
    */
  def rollForward(targetDir: String,
      conf: org.apache.hadoop.conf.Configuration): Seq[String] = {
    val target = new Path(targetDir)
    val fs = target.getFileSystem(conf)
    val fences = EdfBatchWrite.listFences(fs, target)
    if (fences.isEmpty) return Nil
    val mentions = EdfBatchWrite.mentionsByName(fs, fences)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.makeQualified(target).toUri, conf)
    val promoted = Seq.newBuilder[String]
    mentions.foreach { case (name, ms) =>
      val finalPath = new Path(target, name)
      val finalExists = fs.exists(finalPath)
      var delivered = false
      ms.reverseIterator.foreach { case (fence, staged) =>
        val stagedExists = fs.exists(new Path(staged))
        if (!delivered) {
          if (fence.committed) delivered = true // committed final wins
          else if (stagedExists) {
            fc.rename(fs.makeQualified(new Path(staged)),
              fs.makeQualified(finalPath),
              org.apache.hadoop.fs.Options.Rename.OVERWRITE)
            promoted += name
            delivered = true
          } else if (finalExists)
            // Staged gone while a final exists: this fence evidently
            // promoted it already — the final is the newest bytes.
            delivered = true
          // else: a ghost mention — fall through to the next-older fence.
        } else if (stagedExists)
          graft.Log.warn(s"[edf-export] rollForward: dropping stale " +
            s"staged '$name' from ${fence.path.getName} — a newer " +
            "export owns that file")
      }
    }
    // Every manifest is resolved: retire them, their queries' staging
    // trees (the fence name encodes the sanitized queryId), and the
    // committed markers, which now have nothing left to fence.
    fences.foreach { f =>
      try fs.delete(f.path, false) catch { case NonFatal(_) => () }
      if (!f.committed)
        fs.delete(new Path(target,
          s"${EdfBatchWrite.TempDirName}/${f.qid}"), true)
    }
    try fs.delete(new Path(target, EdfBatchWrite.TempDirName), false)
    catch { case NonFatal(_) => () }
    promoted.result()
  }
}

/** Serializable executor-side factory — a case class (not an anonymous
  * class) so the ONLY state shipped is these fields, never an outer
  * BatchWrite reference.
  */
private case class EdfWriterFactory(targetDir: String, stagingDir: String,
    schema: StructType, conf: SerializableConfiguration, physMin: Double,
    physMax: Double, recordDurationSec: Double) extends DataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    new EdfDataWriter(targetDir,
      s"$stagingDir/task-$partitionId-$taskId",
      schema, conf, physMin, physMax, recordDurationSec)
}

/** Streaming single-pass assembler: rows arrive sorted (path, channel,
  * chunk_idx) by the declared ordering; channel boundaries concatenate
  * chunk arrays, path boundaries serialize and emit one EDF file — into
  * this attempt's private staging dir, promoted to final names only by
  * the driver-side [[EdfBatchWrite.commit]].
  */
private class EdfDataWriter(targetDir: String, attemptDir: String,
    schema: StructType, conf: SerializableConfiguration, physMin: Double,
    physMax: Double, recordDurationSec: Double)
    extends DataWriter[InternalRow] {

  private val iPath = schema.fieldIndex("path")
  private val iChannel = schema.fieldIndex("channel")
  private val iSfreq = schema.fieldIndex("sfreq")
  private val iSamples = schema.fieldIndex("samples")

  private val written =
    scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private var curPath: String = _
  private var curSfreq: Double = 0.0
  private var channels =
    scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Double]]

  override def write(row: InternalRow): Unit = {
    val path = row.getUTF8String(iPath).toString
    if (curPath == null) { checkBasename(path); curPath = path }
    else if (path != curPath) {
      // Reject the new path BEFORE flushing the previous file: the task
      // is doomed either way, so don't serialize and stage bytes the
      // abort will immediately discard.
      checkBasename(path); flushFile(); curPath = path
    }
    val ch = row.getUTF8String(iChannel).toString
    val sf = row.getDouble(iSfreq)
    if (channels.isEmpty) curSfreq = sf
    else require(sf == curSfreq,
      s"edf write: mixed sampling rates in $path ($curSfreq vs $sf for $ch)" +
        " — the writer emits uniform-rate signal files")
    require(!row.isNullAt(iSamples),
      s"edf write: null samples for $path/$ch — a pruned or header-only " +
        "read cannot be written back as signal data")
    channels.getOrElseUpdate(ch, scala.collection.mutable.ArrayBuffer.empty)
      .++=(row.getArray(iSamples).toDoubleArray())
  }

  /** Hidden-ness is a pure function of one row's path, so reject it at
    * the FIRST row of the offending file — failing in seconds instead of
    * streaming the whole dataset into staging only for the job-commit
    * backstop ([[EdfBatchWrite.commit]]) to refuse it.
    */
  private def checkBasename(path: String): Unit = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    // An empty basename normalizes to ".edf" in flushFile — hidden too.
    if (base.isEmpty || EdfBatchWrite.hiddenName(base))
      throw new IllegalStateException(
        EdfBatchWrite.hiddenBasenameError(s"'$base'"))
  }

  private def flushFile(): Unit = {
    if (curPath != null && channels.nonEmpty) {
      val name = {
        val base = curPath.substring(curPath.lastIndexOf('/') + 1)
        if (base.toLowerCase.endsWith(".edf")) base else base + ".edf"
      }
      val bytes = Edf.write(
        channels.toSeq.map { case (l, b) => l -> b.toArray },
        curSfreq, Nil, recordDurationSec, physMin, physMax)
      val out = new Path(new Path(targetDir, attemptDir), name)
      val fs = out.getFileSystem(conf.value)
      val os = fs.create(out, true)
      try os.write(bytes) finally os.close()
      written += (out.toString -> name)
    }
    channels = scala.collection.mutable.LinkedHashMap.empty
  }

  override def commit(): WriterCommitMessage = {
    flushFile()
    EdfWriteCommit(written.toSeq)
  }

  override def abort(): Unit = {
    // Attempt-private staging dir only — committed output is untouchable.
    // A speculative loser can be mid-write when the driver's commit has
    // already cleared the query's staging tree; its own fs.create then
    // re-creates the parent dirs. Clearing the (now attempt-only) parents
    // non-recursively here — they only delete when empty — keeps that
    // race from leaving _temporary/<queryId> behind in the output dir.
    val fs = new Path(targetDir).getFileSystem(conf.value)
    try {
      val attempt = new Path(targetDir, attemptDir)
      fs.delete(attempt, true)
      fs.delete(attempt.getParent, false)
      fs.delete(new Path(targetDir, EdfBatchWrite.TempDirName), false)
    } catch { case NonFatal(_) => () }
  }

  override def close(): Unit = ()
}

private class EdfScanBuilder(pathSpec: String, chunkRecords: Int,
    lenient: Boolean = false)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  import org.apache.spark.sql.sources._

  private var required: StructType = EdfDataSource.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  /** Pushdown here only SKIPS work — `path` predicates prune whole files
    * out of the partition plan, `channel` predicates skip waveform decode
    * for non-matching signals ([[Edf.parseSignals]]) — it never asserts
    * full evaluation: every filter is returned for post-scan re-check,
    * so semantics cannot depend on the pruning being exact.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("channel", _: String) => true
      case In("channel", _) => true
      case EqualTo("path", _: String) => true
      case In("path", _) => true
      case StringContains("path", _) => true
      case StringStartsWith("path", _) => true
      case StringEndsWith("path", _) => true
      case _ => false
    }
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  private def wantedChannels: Option[Set[String]] = {
    val sets = pushed.collect {
      case EqualTo("channel", v: String) => Set(v)
      case In("channel", vs) => vs.collect { case v: String => v }.toSet
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  private def pathOk(p: String): Boolean = pushed.forall {
    case EqualTo("path", v: String) => p == v
    case In("path", vs) => vs.exists(v => v == p)
    case StringContains("path", v) => p.contains(v)
    case StringStartsWith("path", v) => p.startsWith(v)
    case StringEndsWith("path", v) => p.endsWith(v)
    case _ => true
  }

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this

    override def description(): String =
      s"edf $pathSpec " +
        s"ReadSchema: ${required.catalogString} " +
        s"PushedFilters: [${pushed.mkString(", ")}]"

    override def planInputPartitions(): Array[InputPartition] = {
      val conf = org.apache.spark.sql.SparkSession.active.sparkContext
        .hadoopConfiguration
      // The loud no-match partition is exempt from path pushdown: pruning
      // it would turn the guaranteed failure into a silent empty result.
      EdfPlanner.plan(pathSpec, conf)
        .filter(part => part.noMatch || pathOk(part.path))
        .toArray[InputPartition]
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      val spark = org.apache.spark.sql.SparkSession.active
      new EdfReaderFactory(required,
        new SerializableConfiguration(spark.sparkContext.hadoopConfiguration),
        chunkRecords, wantedChannels, lenient)
    }
  }
}

/** The EDF scan's read planner. A load spec is a directory or one file,
  * and plans in two steps:
  *
  *  1. '''Find the target''' — one listing of the directory (for a file,
  *     of its parent) yields the data files, the commit-protocol fence
  *     files and a name gate: `*.edf` for a directory, the file's own
  *     name for a file.
  *  2. '''Resolve it''' with the per-name manifest rule ([[resolve]]),
  *     the same rule [[EdfExportRecovery.rollForward]] applies.
  */
private[sources] object EdfPlanner {
  import EdfBatchWrite.{Fence, hiddenName}

  /** One directory to resolve. `files` are the data files its listing
    * showed (the listing's path strings); `nameOk` gates which names that
    * fences mention but the listing does not show this load serves.
    */
  private final case class Target(dir: Path, files: Seq[String],
      fences: Seq[Fence], nameOk: String => Boolean)

  /** One load spec's partitions. A file that is neither listed nor
    * pending behind a fence plans one loud `noMatch` partition, whose read
    * fails with the underlying file-not-found: a typo'd path never
    * returns a silent empty result. An empty directory is an empty scan.
    */
  def plan(spec: String, conf: Configuration): Seq[EdfInputPartition] = {
    val p = new Path(spec)
    val fs = p.getFileSystem(conf)
    if (fs.isDirectory(p)) return resolve(fs, listTarget(fs, p, dataName))
    val parts = Option(p.getParent).toSeq.flatMap { dir =>
      try resolve(fs, listTarget(fs, dir,
        name => name == p.getName && !hiddenName(name)))
      catch { case _: java.io.FileNotFoundException => Nil }
    }
    if (parts.isEmpty) Seq(EdfInputPartition(spec, noMatch = true))
    else parts
  }

  /** The directory-load data gate, applied to listed files AND to pending
    * names, so a manifest mentioning a non-edf or hidden name cannot
    * surface a file the steady-state listing would hide.
    */
  private def dataName(name: String): Boolean =
    !hiddenName(name) && name.toLowerCase.endsWith(".edf")

  private def baseName(f: String): String = f.substring(f.lastIndexOf('/') + 1)

  /** One listing yields both the data files `nameOk` admits and the
    * fences.
    */
  private def listTarget(fs: FileSystem, dir: Path,
      nameOk: String => Boolean): Target = {
    val listed = fs.listStatus(dir).toSeq.filter(_.isFile).map(_.getPath)
    Target(dir, listed.map(_.toString).filter(f => nameOk(baseName(f))),
      EdfBatchWrite.fencesOf(listed), nameOk)
  }

  /** Resolves one target through its fences. An in-flight (or crashed
    * mid-promotion) export publishes a `_STAGED_MANIFEST-<seq>-<qid>`
    * redirect table as its atomic commit point; a finished export leaves
    * a `_COMMITTED-…` marker while older crashed manifests linger. Each
    * name walks its mentions newest-first and follows the first fence
    * that can deliver it: a committed marker → the final; a manifest
    * whose staged copy survives → the staged copy (final as fallback, so
    * a promotion racing the reader cannot lose the file); a listed final
    * → the final; a ghost mention → the next-older fence. A reader thus
    * sees the complete old or the complete new state, never a
    * half-promoted mix. Mentioned names with no listed final are pending:
    * brand-new files still staged, served under their qualified logical
    * path (so the `path` column spells the same before and after
    * promotion) when the target's gate admits them; one that no fence
    * can deliver is served iff its final exists. Targets without fences
    * (the steady state) cost no I/O.
    */
  private def resolve(fs: FileSystem, t: Target): Seq[EdfInputPartition] = {
    if (t.fences.isEmpty) return t.files.map(EdfInputPartition(_))
    val mentions = EdfBatchWrite.mentionsByName(fs, t.fences)
    // Staged-copy existence for every mention from ONE recursive listing
    // of the staging tree — one LIST on an object store, never a HEAD
    // per redirected name.
    val staged: Set[String] = {
      val out = Set.newBuilder[String]
      try {
        val it = fs.listFiles(new Path(t.dir, EdfBatchWrite.TempDirName), true)
        while (it.hasNext) out += it.next().getPath.toString
      } catch { case _: java.io.FileNotFoundException => () }
      out.result()
    }
    val live = (s: String) => staged(fs.makeQualified(new Path(s)).toString)
    def deliver(logical: String, listed: Boolean,
        ms: Seq[(Fence, String)]): Option[EdfInputPartition] =
      ms.reverseIterator
        .find { case (f, s) => listed || f.committed || live(s) } match {
        case Some((f, s)) if !f.committed && live(s) =>
          Some(EdfInputPartition(logical, Seq(s, logical)))
        case _ if listed || fs.exists(new Path(logical)) =>
          Some(EdfInputPartition(logical))
        case _ => None
      }
    val listedNames = t.files.map(baseName).toSet
    t.files.flatMap(f =>
      deliver(f, listed = true, mentions.getOrElse(baseName(f), Nil))) ++
      mentions.toSeq.collect {
        case (name, ms) if !listedNames(name) && t.nameOk(name) =>
          deliver(fs.makeQualified(new Path(t.dir, name)).toString,
            listed = false, ms)
      }.flatten
  }
}

/** One file to read. `path` is the LOGICAL path (what the `path` column
  * reports and what pushdown filters match); `readPaths` are the physical
  * candidates tried in order — non-empty only when a staged manifest
  * redirects this file (staged copy first, promoted final as fallback, so
  * the staged→final rename racing this reader cannot lose the file).
  * `noMatch` marks the loud partition a spec that matched nothing plans —
  * its read fails with the underlying file-not-found, and it is exempt
  * from path pushdown so a filter cannot silently prune the failure.
  */
private case class EdfInputPartition(path: String,
    readPaths: Seq[String] = Nil,
    noMatch: Boolean = false) extends InputPartition

private class EdfReaderFactory(
    required: StructType,
    conf: SerializableConfiguration,
    chunkRecords: Int,
    wantedChannels: Option[Set[String]] = None,
    lenient: Boolean = false)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val part = partition.asInstanceOf[EdfInputPartition]
    val path = part.path
    new PartitionReader[InternalRow] {
      private val needSamples = required.fieldNames.contains("samples")

      /** Whole-file read with the same cap as the ingest path: a wrong
        * multi-GB object fails with a clear error instead of an
        * uncatchable OOM — and getLen can no longer wrap past Int into a
        * silently truncated read.
        */
      private def readWhole(c: String): Array[Byte] = {
        val p = new Path(c)
        val fs = FileSystem.get(p.toUri, conf.value)
        val len = fs.getFileStatus(p).getLen
        require(len <= graft.ingest.Ingest.MaxWholeFileBytes,
          s"$c is $len bytes — over the " +
            s"${graft.ingest.Ingest.MaxWholeFileBytes}-byte whole-file" +
            " read cap; a recording this size is a wrong or corrupt " +
            "object")
        val in = fs.open(p)
        try {
          val buf = new Array[Byte](len.toInt)
          in.readFully(0, buf)
          buf
        } finally in.close()
      }

      private lazy val rows: Iterator[InternalRow] = {
        // Manifest-redirected partitions carry physical candidates in
        // order (staged first, promoted final as fallback): a promotion
        // racing this reader moves the file between them atomically, so
        // exactly one candidate has the bytes.
        val candidates =
          if (part.readPaths.nonEmpty) part.readPaths else Seq(path)
        var bytes: Array[Byte] = null
        var i = 0
        while (bytes == null) {
          try bytes = readWhole(candidates(i))
          catch {
            case _: java.io.FileNotFoundException
                if i < candidates.length - 1 => i += 1
          }
        }
        // Header-only parse suffices when samples are pruned away; a
        // pushed channel predicate narrows decode to the wanted signals.
        val edf =
          if (!needSamples) Edf.parseHeader(bytes)
          else wantedChannels match {
            case Some(w) => Edf.parseSignals(bytes, w, lenient)
            case None => Edf.parse(bytes, lenient)
          }
        edf.signalHeaders.filterNot(_.isAnnotation)
          .filter(h => wantedChannels.forall(_.contains(h.label.trim)))
          .iterator.flatMap { h =>
          val label = h.label.trim
          val sfreq = h.samplesPerRecord / edf.recordDurationSec
          val chunkSamples = chunkRecords * h.samplesPerRecord
          val total =
            if (needSamples) edf.signals(label).length
            else edf.nRecords.toLong.toInt * h.samplesPerRecord
          val nChunks = math.max(1, (total + chunkSamples - 1) / chunkSamples)
          (0 until nChunks).iterator.map { c =>
            val vals = new Array[Any](required.fields.length)
            required.fieldNames.zipWithIndex.foreach { case (f, i) =>
              vals(i) = f match {
                case "path" => UTF8String.fromString(path)
                case "channel" => UTF8String.fromString(label)
                case "sfreq" => sfreq
                case "chunk_idx" => c
                case "t0_sec" => c.toDouble * chunkSamples / sfreq
                case "samples" =>
                  val sig = edf.signals(label)
                  val start = c * chunkSamples
                  val end = math.min(start + chunkSamples, sig.length)
                  new org.apache.spark.sql.catalyst.util.GenericArrayData(
                    java.util.Arrays.copyOfRange(sig, start, end))
              }
            }
            InternalRow.fromSeq(vals.toSeq)
          }
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { current = rows.next(); true } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
