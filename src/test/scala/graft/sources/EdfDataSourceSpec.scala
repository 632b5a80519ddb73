package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.edf.Edf

class EdfDataSourceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tmpDir("edfsource")
    val sfreq = 100.0
    (0 until 2).foreach { i =>
      val x = Array.tabulate(1000)(j =>
        50e-6 * math.sin(2 * math.Pi * (i + 2) * j / sfreq))
      val bytes = Edf.write(
        Seq("EEG Fpz-Cz" -> x, "EOG horizontal" -> x.map(_ * 2)), sfreq)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$d/rec$i.edf"), bytes)
    }
    d
  }

  test("spark.read.format(edf) reads channel chunks with values") {
    val df = spark.read.format("edf").option("chunk_records", "4").load(dir)
    assert(df.schema == EdfDataSource.Schema)
    // 2 files × 2 channels × ceil(10 records / 4) chunks.
    assert(df.count() == 2 * 2 * 3)
    val row = df.filter(col("channel") === "EEG Fpz-Cz" && col("chunk_idx") === 0)
      .filter(col("path").contains("rec0")).head()
    assert(row.getAs[Double]("sfreq") == 100.0)
    assert(row.getAs[Double]("t0_sec") == 0.0)
    val samples = row.getSeq[Double](row.fieldIndex("samples"))
    assert(samples.length == 400)
    assert(math.abs(samples(25) - 50e-6 * math.sin(2 * math.Pi * 2 * 25 / 100.0)) < 2e-7)
  }

  test("selective parse decodes only the wanted channels, bit-identically") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/rec0.edf"))
    val full = Edf.parse(bytes)
    val sel = Edf.parseSignals(bytes, Set("EEG Fpz-Cz"))
    assert(sel.signals.keySet == Set("EEG Fpz-Cz"))
    assert(sel.signals("EEG Fpz-Cz").sameElements(full.signals("EEG Fpz-Cz")))
    // Headers still describe ALL signals — only decode was skipped.
    assert(sel.channelNames == full.channelNames)
  }

  test("channel filter pushes down and matches the unpushed result") {
    val df = spark.read.format("edf").option("chunk_records", "4").load(dir)
    val filtered = df.filter(col("channel") === "EOG horizontal")
    val plan = filtered.queryExecution.executedPlan.toString()
    assert(plan.contains("EqualTo(channel,EOG horizontal"),
      s"channel predicate not pushed:\n$plan")
    val got = filtered.select("path", "channel", "chunk_idx").collect()
    // 2 files × 1 channel × 3 chunks, all the right channel.
    assert(got.length == 6)
    assert(got.forall(_.getString(1) == "EOG horizontal"))
    // Values identical to the unpushed spelling (re-read, no filterredund).
    val want = df.collect().filter(_.getAs[String]("channel") == "EOG horizontal")
    assert(want.length == 6)
  }

  test("path filter prunes input files before any parse") {
    val df = spark.read.format("edf").option("chunk_records", "4").load(dir)
    val one = df.filter(col("path").endsWith("rec1.edf"))
    // 1 file × 2 channels × 3 chunks.
    assert(one.count() == 6)
    assert(one.rdd.getNumPartitions == 1,
      "path pushdown must prune the partition plan to the matching file")
  }

  test("column pruning skips waveform decode for metadata queries") {
    val meta = spark.read.format("edf").load(dir)
      .select("path", "channel", "sfreq")
    val plan = meta.queryExecution.executedPlan.toString()
    assert(!plan.contains("samples"), s"samples not pruned:\n$plan")
    assert(meta.distinct().count() == 4)
  }

  test("write path round-trips: read -> edf write -> read gives same signals") {
    val out = tmpDir("edfsink")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
    src.write.format("edf").mode("append").save(out)
    val back = spark.read.format("edf").load(out)
    // Same inventory: 2 files × 2 channels.
    assert(back.select("path", "channel").distinct().count() == 4)
    // Signal bytes round-trip bit-exactly: the source samples are already
    // on the 16-bit quantization grid (they came from an EDF parse with
    // the same physical range), so re-quantization is the identity.
    def signals(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("file", regexp_extract(col("path"), "(rec\\d+)", 1))
      .groupBy("file", "channel")
      .agg(flatten(sort_array(collect_list(struct(col("chunk_idx"),
        col("samples"))))("samples")).as("sig"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getSeq[Double](r.fieldIndex("sig")))
      .toMap
    val a = signals(src)
    val b = signals(back)
    assert(a.keySet == b.keySet)
    a.foreach { case (k, sig) =>
      // EDF pads the final record with zeros: the rewritten file may carry
      // trailing grid zeros; the original 1000 samples must match exactly.
      assert(b(k).take(sig.length) == sig, s"signal mismatch for $k")
      assert(b(k).drop(sig.length).forall(v => math.abs(v) < 2e-7),
        s"non-zero padding for $k")
    }
  }

  /** Comparable content view through the edf source: (file, channel) ->
    * full signal. Uses the logical `path` column, so staged-manifest
    * redirects are transparent to the comparison.
    */
  private def signalView(out: String): Map[(String, String), Seq[Double]] =
    spark.read.format("edf").option("chunk_records", "4").load(out)
      .withColumn("file", element_at(split(col("path"), "/"), -1))
      .groupBy("file", "channel")
      .agg(flatten(sort_array(collect_list(struct(col("chunk_idx"),
        col("samples"))))("samples")).as("sig"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        r.getSeq[Double](r.fieldIndex("sig")))
      .toMap

  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  private def listOut(out: String): Seq[String] = {
    val d = new java.io.File(out)
    if (!d.exists()) Nil
    else d.listFiles().toSeq.map(_.getName)
  }

  test("edf write rejects mixed sampling rates within one file") {
    val out = tmpDir("edfsink_mixed")
    val src = spark.read.format("edf").load(dir)
      .withColumn("sfreq",
        when(col("channel") === "EEG Fpz-Cz", lit(50.0)).otherwise(col("sfreq")))
    val e = intercept[Exception] {
      src.write.format("edf").mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("mixed sampling rates")), e.toString)
  }

  test("aborted write leaves no partial files and no staging dir") {
    val out = tmpDir("edfsink_abort")
    // One good file's rows then a mid-stream failure: rec0 may already be
    // flushed to staging by the time rec1's mixed rate kills the task —
    // abort must remove staged output too, not just the in-flight file.
    val src = spark.read.format("edf").load(dir)
      .withColumn("sfreq",
        when(col("path").contains("rec1") && col("channel") === "EEG Fpz-Cz",
          lit(50.0)).otherwise(col("sfreq")))
    val e = intercept[Exception] {
      src.write.format("edf").mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("mixed sampling rates")), e.toString)
    assert(listOut(out).forall(n => !n.endsWith(".edf")),
      s"partial .edf files survived abort: ${listOut(out)}")
    assert(!listOut(out).contains("_temporary"),
      s"staging dir survived abort: ${listOut(out)}")
  }

  test("successful write leaves no staging dir behind") {
    val out = tmpDir("edfsink_clean")
    spark.read.format("edf").load(dir)
      .write.format("edf").mode("append").save(out)
    val names = listOut(out)
    assert(names.count(_.endsWith(".edf")) == 2, names.toString)
    assert(!names.contains("_temporary"), names.toString)
  }

  test("losing speculative attempt's abort cannot destroy committed output") {
    // The exact round-7 advice scenario: two attempts of the SAME partition
    // write the same logical file; the winner's message is committed, the
    // loser aborts AFTER commit. With final-name writes the loser's abort
    // deleted the winner's committed file; with attempt-unique staging the
    // committed output must survive byte-identical.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val out = tmpDir("edfsink_spec")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    val srcSchema = src.schema
    val rows = src.queryExecution.toRdd.collect().map(_.copy())
    val info = new LogicalWriteInfo {
      override def queryId(): String = "spec-test"
      override def schema(): org.apache.spark.sql.types.StructType = srcSchema
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val table = new EdfDataSource().getTable(srcSchema, Array.empty,
      java.util.Map.of("path", out))
    val batch = table.asInstanceOf[
        org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build().toBatch
    val factory = batch.createBatchWriterFactory(null)
    val attempt1 = factory.createWriter(0, 1L)
    val attempt2 = factory.createWriter(0, 2L)
    rows.foreach { r => attempt1.write(r); attempt2.write(r) }
    val winner = attempt1.commit()   // commit coordination picks attempt 1
    batch.commit(Array(winner))
    val committed = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/rec0.edf"))
    attempt2.abort()                 // the losing attempt cleans up late
    val after = java.nio.file.Paths.get(s"$out/rec0.edf")
    assert(java.nio.file.Files.exists(after),
      "losing attempt's abort deleted the committed file")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(after), committed),
      "committed bytes changed after the losing attempt's abort")
  }

  test("failed mid-promotion commit leaves the staging tree for recovery") {
    // Job commit is v1-committer-like: each rename is atomic, the loop
    // over them is not. If promotion fails mid-loop, files already
    // promoted REPLACED their destinations and the staged remainder is
    // the only copy of the rest — so the abort that follows a failed
    // commit must keep the staging tree, not delete it.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val out = tmpDir("edfsink_partial")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .orderBy("path", "channel", "chunk_idx")
    val srcSchema = src.schema
    // Copy INSIDE the task: the scan reuses its row buffer, so a
    // post-collect copy would alias every row to the last file read.
    val rows = src.queryExecution.toRdd.mapPartitions(_.map(_.copy())).collect()
    val info = new LogicalWriteInfo {
      override def queryId(): String = "partial-fail"
      override def schema(): org.apache.spark.sql.types.StructType = srcSchema
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val batch = new EdfDataSource().getTable(srcSchema, Array.empty,
        java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build().toBatch
    val writer = batch.createBatchWriterFactory(null).createWriter(0, 1L)
    rows.foreach(writer.write)
    val msg = writer.commit().asInstanceOf[EdfWriteCommit]
    assert(msg.files.map(_._2) == Seq("rec0.edf", "rec1.edf"), msg.toString)
    // Sabotage the SECOND promotion: a non-empty directory squatting on
    // rec1.edf's final name makes its rename-overwrite fail after
    // rec0.edf was already promoted.
    val squatter = java.nio.file.Paths.get(s"$out/rec1.edf")
    java.nio.file.Files.createDirectories(squatter)
    java.nio.file.Files.write(squatter.resolve("keep"), Array[Byte](1))
    intercept[Exception](batch.commit(Array(msg)))
    batch.abort(Array(msg)) // Spark aborts after a failed job commit
    // rec0 was promoted before the failure...
    assert(java.nio.file.Files.isRegularFile(
      java.nio.file.Paths.get(s"$out/rec0.edf")))
    // ...and rec1's staged copy must survive the abort for recovery.
    val staged = java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(msg.files(1)._1).toUri.getPath)
    assert(java.nio.file.Files.isRegularFile(staged),
      s"staged remainder deleted by abort: $staged")
  }

  test("job commit is reader-atomic: sabotage at every rename index") {
    // The reference's warehouse load is all-or-nothing per subject with
    // rollback (tests/test_warehouse.py:293-311). The EDF export's commit
    // point is the atomic _STAGED_MANIFEST publish: a reader listing the
    // directory BEFORE it sees the complete old state, one listing AFTER
    // it resolves every manifested file through its staged copy and sees
    // the complete new state — even when the promotion rename loop then
    // fails at ANY index — and EdfExportRecovery.rollForward finishes the
    // job idempotently.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val hconf = spark.sparkContext.hadoopConfiguration

    def view(out: String) = signalView(out)

    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .orderBy("path", "channel", "chunk_idx")
    // v2 content: same recordings, samples halved (distinct bytes).
    def v2(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("samples", transform(col("samples"), x => x * 0.5))
    // Expected complete-new view, from a clean v2 write elsewhere.
    val cleanOut = tmpDir("edfsink_atomic_clean")
    v2(src).write.format("edf").mode("append").save(cleanOut)
    val newView = view(cleanOut)
    assert(newView.keySet.map(_._1) == Set("rec0.edf", "rec1.edf"))

    (0 until 2).foreach { k =>
      val out = tmpDir(s"edfsink_atomic$k")
      // Old state: only the OTHER file exists in v1 form, leaving rec<k>'s
      // final name free for the sabotage squatter (a non-empty directory
      // a rename-overwrite cannot replace). k=0 fails before anything is
      // promoted; k=1 fails after rec0 was promoted over its old version.
      src.where(col("path").contains(s"rec${1 - k}"))
        .write.format("edf").mode("append").save(out)
      val oldView = view(out)
      assert(oldView.keySet.map(_._1) == Set(s"rec${1 - k}.edf"))

      val srcSchema = src.schema
      // Copy INSIDE the task: the scan reuses its row buffer.
      val rows =
        v2(src).queryExecution.toRdd.mapPartitions(_.map(_.copy())).collect()
      val info = new LogicalWriteInfo {
        override def queryId(): String = s"atomic-$k"
        override def schema(): org.apache.spark.sql.types.StructType =
          srcSchema
        override def options() = CaseInsensitiveStringMap.empty()
      }
      val batch = new EdfDataSource().getTable(srcSchema, Array.empty,
          java.util.Map.of("path", out))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(info).build().toBatch
      val writer = batch.createBatchWriterFactory(null).createWriter(0, 1L)
      rows.foreach(writer.write)
      val msg = writer.commit().asInstanceOf[EdfWriteCommit]
      assert(msg.files.map(_._2) == Seq("rec0.edf", "rec1.edf"))

      // Task-committed but job commit point not reached: readers see OLD.
      assert(view(out) == oldView, s"k=$k: staged files leaked into reads")

      val squatter = java.nio.file.Paths.get(s"$out/rec$k.edf")
      java.nio.file.Files.createDirectories(squatter)
      java.nio.file.Files.write(squatter.resolve("keep"), Array[Byte](1))
      intercept[Exception](batch.commit(Array(msg)))
      batch.abort(Array(msg)) // Spark aborts after a failed job commit

      // Commit point passed: readers see the COMPLETE new state — the
      // unsabotaged file as well as the still-staged one — never a mix.
      assert(view(out) == newView, s"k=$k: reader saw a half-promoted mix")

      // Documented crash recovery: clear the obstruction, roll forward.
      new org.apache.hadoop.fs.Path(s"$out/rec$k.edf").getFileSystem(hconf)
        .delete(new org.apache.hadoop.fs.Path(s"$out/rec$k.edf"), true)
      val promoted = EdfExportRecovery.rollForward(out, hconf)
      assert(promoted.contains(s"rec$k.edf"), s"k=$k promoted=$promoted")
      assert(view(out) == newView, s"k=$k: rollForward lost content")
      // Ignore the local ChecksumFileSystem's dot-file artifacts.
      val names = listOut(out).filterNot(_.startsWith("."))
      assert(names.toSet == Set("rec0.edf", "rec1.edf"),
        s"k=$k: residue after recovery: $names")
      // Idempotent: a second roll-forward is a no-op.
      assert(EdfExportRecovery.rollForward(out, hconf).isEmpty)
    }
  }

  test("a leftover crashed-export manifest cannot hijack a newer commit") {
    // The operator's WRONG move after a crashed export: re-run the export
    // instead of rollForward. The newer job's committed files must win —
    // the stale manifest must not redirect reads onto its staged bytes,
    // and a late rollForward must drop (not promote) the stale copies.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val hconf = spark.sparkContext.hadoopConfiguration
    val out = tmpDir("edfsink_stale")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    def scaled(f: Double) =
      src.withColumn("samples", transform(col("samples"), x => x * f))

    // Export A stages v2, promotion is sabotaged, abort keeps manifest +
    // staging (the crashed state).
    val rowsA =
      scaled(0.5).queryExecution.toRdd.mapPartitions(_.map(_.copy())).collect()
    val srcSchema = src.schema
    val info = new LogicalWriteInfo {
      override def queryId(): String = "stale-a"
      override def schema(): org.apache.spark.sql.types.StructType = srcSchema
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val batchA = new EdfDataSource().getTable(srcSchema, Array.empty,
        java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build().toBatch
    val wA = batchA.createBatchWriterFactory(null).createWriter(0, 1L)
    rowsA.foreach(wA.write)
    val msgA = wA.commit()
    val squatter = java.nio.file.Paths.get(s"$out/rec0.edf")
    java.nio.file.Files.createDirectories(squatter)
    java.nio.file.Files.write(squatter.resolve("keep"), Array[Byte](1))
    intercept[Exception](batchA.commit(Array(msgA)))
    batchA.abort(Array(msgA))
    new org.apache.hadoop.fs.Path(s"$out/rec0.edf").getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(s"$out/rec0.edf"), true)

    // The re-run: export B commits v3 cleanly. Its commit SEQUENCE
    // outranks A's crashed manifest (no clocks involved), fencing every
    // name A staged.
    scaled(0.25).write.format("edf").mode("append").save(out)
    val cleanOut = tmpDir("edfsink_stale_clean")
    scaled(0.25).write.format("edf").mode("append").save(cleanOut)
    val want = signalView(cleanOut)
    assert(signalView(out) == want,
      "stale manifest redirected reads away from the newer commit")

    // Late recovery must drop the stale staged copy, keep B's data, and
    // clean up A's leftovers.
    EdfExportRecovery.rollForward(out, hconf)
    assert(signalView(out) == want,
      "rollForward overwrote newer committed data with stale staged bytes")
    val names = listOut(out).filterNot(_.startsWith("."))
    assert(names.toSet == Set("rec0.edf"),
      s"crashed-export residue after rollForward: $names")
  }

  test("concurrent queries into one target dir keep separate staging trees") {
    // Staging is keyed by queryId: query A's commit (which clears its own
    // staging and opportunistically the shared _temporary root) must not
    // destroy query B's still-in-flight staged files.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val out = tmpDir("edfsink_concurrent")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    val srcSchema = src.schema
    val rows = src.queryExecution.toRdd.collect().map(_.copy())
    def batchFor(qid: String) = {
      val info = new LogicalWriteInfo {
        override def queryId(): String = qid
        override def schema(): org.apache.spark.sql.types.StructType =
          srcSchema
        override def options() = CaseInsensitiveStringMap.empty()
      }
      new EdfDataSource().getTable(srcSchema, Array.empty,
          java.util.Map.of("path", out))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(info).build().toBatch
    }
    val batchA = batchFor("query-a")
    val batchB = batchFor("query-b")
    val writerA = batchA.createBatchWriterFactory(null).createWriter(0, 1L)
    val writerB = batchB.createBatchWriterFactory(null).createWriter(0, 1L)
    rows.foreach { r => writerA.write(r); writerB.write(r) }
    val msgA = writerA.commit()
    val msgB = writerB.commit() // B staged but not yet job-committed
    batchA.commit(Array(msgA))
    // A's commit must leave B's staged file intact for B's own commit.
    batchB.commit(Array(msgB))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$out/rec0.edf")))
    assert(!listOut(out).contains("_temporary"),
      s"staging survived both commits: ${listOut(out)}")
  }

  test("duplicate output basenames fail loudly and commit nothing") {
    val out = tmpDir("edfsink_dup")
    // Distinct full paths, same basename: dir1/rec0.edf and dir2/rec0.edf
    // would map to the same final file — commit must refuse.
    val src = spark.read.format("edf").load(dir)
      .filter(col("path").contains("rec0"))
    val dup = src.withColumn("path",
        concat(lit("dir1/"), element_at(split(col("path"), "/"), -1)))
      .unionByName(src.withColumn("path",
        concat(lit("dir2/"), element_at(split(col("path"), "/"), -1))))
    val e = intercept[Exception] {
      dup.write.format("edf").mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("duplicate output basenames")), e.toString)
    assert(listOut(out).forall(n => !n.endsWith(".edf")),
      s"files committed despite duplicate basenames: ${listOut(out)}")
  }

  test("lenient option salvages a truncated recording the strict read rejects") {
    val d = tmpDir("edf_lenient")
    val bytes = Edf.write(Seq("EEG Fpz-Cz" ->
      Array.tabulate(1000)(j => 1e-5 * math.sin(j * 0.07))), 100.0)
    // Clip half of the last record: an interrupted-but-usable recording.
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$d/trunc.edf"),
      bytes.dropRight(100))
    val strict = spark.read.format("edf").load(d)
    val e = intercept[Exception](strict.collect())
    assert(msgs(e).exists(_.contains("payload holds")), e.toString)
    val lenient = spark.read.format("edf").option("lenient", "true").load(d)
      .agg(sum(size(col("samples")))).head().getLong(0)
    assert(lenient == 900L, s"salvaged $lenient samples, want 900")
  }

  test("two crashed exports: the higher-sequence one owns reads and recovery") {
    // Both exports of the same name crash mid-promotion. Sequence order
    // (not listing order, not clocks) must decide: readers serve the
    // SECOND export's staged bytes, and rollForward promotes exactly
    // those while dropping the first's, then cleans everything.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val hconf = spark.sparkContext.hadoopConfiguration
    val out = tmpDir("edfsink_twocrash")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    def scaled(f: Double) =
      src.withColumn("samples", transform(col("samples"), x => x * f))
    val srcSchema = src.schema
    def crash(qid: String, factor: Double): Unit = {
      val rows = scaled(factor).queryExecution.toRdd
        .mapPartitions(_.map(_.copy())).collect()
      val info = new LogicalWriteInfo {
        override def queryId(): String = qid
        override def schema(): org.apache.spark.sql.types.StructType =
          srcSchema
        override def options() = CaseInsensitiveStringMap.empty()
      }
      val batch = new EdfDataSource().getTable(srcSchema, Array.empty,
          java.util.Map.of("path", out))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(info).build().toBatch
      val w = batch.createBatchWriterFactory(null).createWriter(0, 1L)
      rows.foreach(w.write)
      val msg = w.commit()
      val squatter = java.nio.file.Paths.get(s"$out/rec0.edf")
      java.nio.file.Files.createDirectories(squatter)
      java.nio.file.Files.write(squatter.resolve("keep"), Array[Byte](1))
      intercept[Exception](batch.commit(Array(msg)))
      batch.abort(Array(msg))
      new org.apache.hadoop.fs.Path(s"$out/rec0.edf").getFileSystem(hconf)
        .delete(new org.apache.hadoop.fs.Path(s"$out/rec0.edf"), true)
    }
    // Note: "zz-first" sorts AFTER "aa-second" as a string — sequence
    // numbers, not queryIds, must order the two exports.
    crash("zz-first", 0.5)
    crash("aa-second", 0.25)
    val cleanOut = tmpDir("edfsink_twocrash_clean")
    scaled(0.25).write.format("edf").mode("append").save(cleanOut)
    val want = signalView(cleanOut)
    assert(signalView(out) == want,
      "reader did not follow the higher-sequence crashed export")
    val promoted = EdfExportRecovery.rollForward(out, hconf)
    assert(promoted == Seq("rec0.edf"), promoted.toString)
    assert(signalView(out) == want,
      "rollForward promoted the wrong export's bytes")
    val names = listOut(out).filterNot(_.startsWith("."))
    assert(names.toSet == Set("rec0.edf"), s"residue: $names")
  }

  test("a ghost manifest (staging destroyed) degrades reads, never fails them") {
    // The ambiguous-failure window: a manifest is published but the
    // staging tree is later destroyed without promotion (e.g. an
    // ambiguous rename failure followed by an abort that cleaned
    // staging). Readers must degrade to a consistent view — existing
    // finals read their (old) bytes, brand-new names vanish — instead
    // of failing every scan with FileNotFoundException; rollForward
    // then retires the ghost.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val hconf = spark.sparkContext.hadoopConfiguration
    val out = tmpDir("edfsink_ghost")
    // Old state: rec0 only; the export stages rec0 (update) + rec1 (new).
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .orderBy("path", "channel", "chunk_idx")
    src.where(col("path").contains("rec0"))
      .write.format("edf").mode("append").save(out)
    val oldView = signalView(out)
    val rows = src.withColumn("samples",
        transform(col("samples"), x => x * 0.5))
      .queryExecution.toRdd.mapPartitions(_.map(_.copy())).collect()
    val srcSchema = src.schema
    val info = new LogicalWriteInfo {
      override def queryId(): String = "ghost"
      override def schema(): org.apache.spark.sql.types.StructType =
        srcSchema
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val batch = new EdfDataSource().getTable(srcSchema, Array.empty,
        java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build().toBatch
    val w = batch.createBatchWriterFactory(null).createWriter(0, 1L)
    rows.foreach(w.write)
    val msg = w.commit()
    val squatter = java.nio.file.Paths.get(s"$out/rec0.edf")
    // rec0 promotion fails first (rec0 sorts before rec1), so NOTHING
    // promoted; then simulate the staging tree vanishing post-publish.
    val keepBytes = java.nio.file.Files.readAllBytes(squatter)
    java.nio.file.Files.delete(squatter)
    java.nio.file.Files.createDirectories(squatter)
    java.nio.file.Files.write(squatter.resolve("keep"), Array[Byte](1))
    intercept[Exception](batch.commit(Array(msg)))
    batch.abort(Array(msg))
    new org.apache.hadoop.fs.Path(s"$out/rec0.edf").getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(s"$out/rec0.edf"), true)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/rec0.edf"),
      keepBytes)
    new org.apache.hadoop.fs.Path(s"$out/_temporary").getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(s"$out/_temporary"), true)
    // Manifest present, staging gone: the old final must still read and
    // the never-promoted rec1 must simply be absent.
    assert(signalView(out) == oldView,
      "ghost manifest broke or corrupted directory reads")
    assert(EdfExportRecovery.rollForward(out, hconf).isEmpty)
    val names = listOut(out).filterNot(_.startsWith("."))
    assert(names.toSet == Set("rec0.edf"), s"ghost residue: $names")
  }

  test("a ghost owner falls through to the older surviving staged copy") {
    // Export A (seq 1) crashes with its staged copy INTACT; export B
    // (seq 2) crashes AND loses its staging (the ghost). No final file
    // exists. B nominally outranks A, but it cannot deliver — readers
    // and recovery must fall through to A's surviving bytes instead of
    // losing the only remaining copy of the output.
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val hconf = spark.sparkContext.hadoopConfiguration
    val out = tmpDir("edfsink_ghostowner")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    def scaled(f: Double) =
      src.withColumn("samples", transform(col("samples"), x => x * f))
    val srcSchema = src.schema
    def crash(qid: String, factor: Double): Unit = {
      val rows = scaled(factor).queryExecution.toRdd
        .mapPartitions(_.map(_.copy())).collect()
      val info = new LogicalWriteInfo {
        override def queryId(): String = qid
        override def schema(): org.apache.spark.sql.types.StructType =
          srcSchema
        override def options() = CaseInsensitiveStringMap.empty()
      }
      val batch = new EdfDataSource().getTable(srcSchema, Array.empty,
          java.util.Map.of("path", out))
        .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
        .newWriteBuilder(info).build().toBatch
      val w = batch.createBatchWriterFactory(null).createWriter(0, 1L)
      rows.foreach(w.write)
      val msg = w.commit()
      val squatter = java.nio.file.Paths.get(s"$out/rec0.edf")
      java.nio.file.Files.createDirectories(squatter)
      java.nio.file.Files.write(squatter.resolve("keep"), Array[Byte](1))
      intercept[Exception](batch.commit(Array(msg)))
      batch.abort(Array(msg))
      new org.apache.hadoop.fs.Path(s"$out/rec0.edf").getFileSystem(hconf)
        .delete(new org.apache.hadoop.fs.Path(s"$out/rec0.edf"), true)
    }
    crash("alive", 0.5)
    crash("ghosted", 0.25)
    // Destroy ONLY the ghost's staging subtree.
    new org.apache.hadoop.fs.Path(s"$out/_temporary/ghosted")
      .getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(s"$out/_temporary/ghosted"), true)
    val cleanOut = tmpDir("edfsink_ghostowner_clean")
    scaled(0.5).write.format("edf").mode("append").save(cleanOut)
    val want = signalView(cleanOut)
    assert(signalView(out) == want,
      "reader lost the surviving older staged copy behind a ghost owner")
    val promoted = EdfExportRecovery.rollForward(out, hconf)
    assert(promoted == Seq("rec0.edf"), promoted.toString)
    assert(signalView(out) == want,
      "rollForward discarded the only surviving copy")
    val names = listOut(out).filterNot(_.startsWith("."))
    assert(names.toSet == Set("rec0.edf"), s"residue: $names")
  }

  test("redirected partitions fall back from a vanished staged path to the final") {
    // A promotion rename can land between a reader's listing (which
    // resolved the staged candidate) and its open: the partition carries
    // both physical candidates, so the read must recover from the final
    // copy instead of failing on the vanished staged one.
    val real = s"$dir/rec0.edf"
    val part = EdfInputPartition(real, Seq(s"$dir/gone-staged.edf", real))
    val reader = new EdfReaderFactory(EdfDataSource.Schema,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration), 4).createReader(part)
    var n = 0
    while (reader.next()) {
      assert(reader.get().getUTF8String(0).toString == real,
        "path column must report the logical path, not the candidate read")
      n += 1
    }
    assert(n == 2 * 3, s"expected 2 channels x 3 chunks, got $n rows")
  }

  /** Stages `df` into `out` under `qid` and drives the job past its
    * commit point (manifest published), then sabotages promotion at
    * `squatName`'s rename — a non-empty directory squatting on the final
    * name — so the export crashes mid-promotion; the squatter is removed
    * afterwards. Files whose rename ran before `squatName`'s were
    * promoted; the rest stay staged behind the manifest. This is the
    * canonical crashed-export state the fence machinery resolves.
    */
  private def stageAndCrash(out: String, qid: String,
      df: org.apache.spark.sql.DataFrame, squatName: String): Unit = {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    val hconf = spark.sparkContext.hadoopConfiguration
    val srcSchema = df.schema
    // Copy INSIDE the task: the scan reuses its row buffer.
    val rows = df.queryExecution.toRdd.mapPartitions(_.map(_.copy())).collect()
    val info = new LogicalWriteInfo {
      override def queryId(): String = qid
      override def schema(): org.apache.spark.sql.types.StructType = srcSchema
      override def options() = CaseInsensitiveStringMap.empty()
    }
    val batch = new EdfDataSource().getTable(srcSchema, Array.empty,
        java.util.Map.of("path", out))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsWrite]
      .newWriteBuilder(info).build().toBatch
    val w = batch.createBatchWriterFactory(null).createWriter(0, 1L)
    rows.foreach(w.write)
    val msg = w.commit()
    val squatter = java.nio.file.Paths.get(s"$out/$squatName")
    java.nio.file.Files.createDirectories(squatter)
    java.nio.file.Files.write(squatter.resolve("keep"), Array[Byte](1))
    intercept[Exception](batch.commit(Array(msg)))
    batch.abort(Array(msg))
    new org.apache.hadoop.fs.Path(s"$out/$squatName").getFileSystem(hconf)
      .delete(new org.apache.hadoop.fs.Path(s"$out/$squatName"), true)
  }

  test("fence pileup: many crashed exports resolve at every step, then clean up") {
    // ~25 sequential crashed exports into ONE directory (an operator
    // re-running a failing job all night), then one successful commit and
    // a rollForward. At every step readers must serve exactly the newest
    // export's bytes; the pileup must not multiply partitions; the final
    // state must carry zero fence files.
    val hconf = spark.sparkContext.hadoopConfiguration
    val out = tmpDir("edf_pileup")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    def scaled(f: Double) =
      src.withColumn("samples", transform(col("samples"), x => x * f))
    // Two alternating content versions, precomputed from clean writes —
    // consecutive steps differ, so a stale-fence win is visible.
    val wantByFactor = Seq(0.5, 0.25).map { f =>
      val c = tmpDir(s"edf_pileup_clean_$f")
      scaled(f).write.format("edf").mode("append").save(c)
      f -> signalView(c)
    }.toMap
    val steps = 25
    (1 to steps).foreach { i =>
      val f = if (i % 2 == 1) 0.5 else 0.25
      stageAndCrash(out, f"pileup-$i%02d", scaled(f), "rec0.edf")
      assert(signalView(out) == wantByFactor(f),
        s"step $i: directory read did not resolve to the newest export")
    }
    assert(listOut(out).count(_.startsWith("_STAGED_MANIFEST-")) == steps)
    // 25 manifests all mention rec0.edf: resolution must still plan ONE
    // partition for it, not one per fence.
    assert(spark.read.format("edf").load(out).rdd.getNumPartitions == 1,
      "fence pileup multiplied input partitions")

    // One successful export outranks the whole pileup...
    val cleanOut = tmpDir("edf_pileup_final")
    src.write.format("edf").mode("append").save(cleanOut)
    val want = signalView(cleanOut)
    src.write.format("edf").mode("append").save(out)
    assert(signalView(out) == want, "pileup outlived a successful commit")
    // ...and recovery retires every fence and stale staged copy.
    assert(EdfExportRecovery.rollForward(out, hconf).isEmpty,
      "rollForward re-promoted stale crashed exports over committed data")
    assert(signalView(out) == want, "rollForward changed committed content")
    val names = listOut(out).filterNot(_.startsWith("."))
    assert(names.toSet == Set("rec0.edf"),
      s"fence files or staging survived recovery: $names")
  }

  test("hidden output basenames fail loudly and commit nothing") {
    // Underscore/dot-prefixed names are bookkeeping by filesystem
    // convention — readers (this source's and Spark's) never serve them.
    // A write that would commit one is silent data loss, so it must
    // refuse before touching anything, like the duplicate-basename check.
    val out = tmpDir("edfsink_hidden")
    val src = spark.read.format("edf").load(dir)
      .filter(col("path").contains("rec0"))
      .withColumn("path", concat(lit("x/_"),
        element_at(split(col("path"), "/"), -1)))
    val e = intercept[Exception] {
      src.write.format("edf").mode("append").save(out)
    }
    assert(msgs(e).exists(_.contains("hidden output basenames")), e.toString)
    assert(listOut(out).forall(n => !n.toLowerCase.endsWith(".edf")),
      s"files committed despite hidden basenames: ${listOut(out)}")
    assert(!listOut(out).contains("_temporary"),
      s"staging survived the refused commit: ${listOut(out)}")
  }

  test("a manifest-mentioned non-edf name stays hidden from directory loads") {
    // The steady-state listing only serves *.edf; a pending
    // (mentioned-but-unlisted) name must pass the same gate, or an
    // in-flight export would surface files the committed state hides.
    // Our own writer normalizes basenames to *.edf, so a non-edf mention
    // can only come from a hand-made/foreign manifest — plant one.
    val out = tmpDir("edf_nonedf")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .where(col("path").contains("rec0"))
      .orderBy("path", "channel", "chunk_idx")
    src.write.format("edf").mode("append").save(out)
    val want = signalView(out) // rec0 only, committed
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/rec0.edf"))
    val staging = java.nio.file.Paths.get(s"$out/_temporary/handmade")
    java.nio.file.Files.createDirectories(staging)
    java.nio.file.Files.write(staging.resolve("weird.bin"), bytes)
    java.nio.file.Files.write(staging.resolve("rec1.edf"), bytes)
    java.nio.file.Files.write(java.nio.file.Paths.get(
      s"$out/${EdfBatchWrite.fenceName(EdfBatchWrite.ManifestPrefix, 1, "handmade")}"),
      (s"${staging.resolve("weird.bin")}\tweird.bin\n" +
        s"${staging.resolve("rec1.edf")}\trec1.edf\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The pending *.edf name is served from staging; the non-edf name is
    // hidden from directory loads, exactly as the steady-state listing
    // would hide its final file.
    val wantWithRec1 = want ++ want.map { case ((_, ch), sig) =>
      ("rec1.edf", ch) -> sig
    }
    assert(signalView(out) == wantWithRec1,
      "directory load served (or lost) a pending name inconsistently")
    assert(!spark.read.format("edf").load(out).select("path").distinct()
      .collect().map(_.getString(0)).exists(_.endsWith("weird.bin")),
      "pending non-edf name leaked into a directory load")
  }

  test("a file load resolves its directory's fences like a directory load") {
    // Old state: rec1 v1 only. An export of rec0+rec1 (v2) crashes at
    // rec0's promotion (first rename), so NOTHING is promoted: rec0 is a
    // brand-new pending name, rec1 a staged redirect over its v1 final.
    // A load of either file must serve that file's new bytes, exactly as
    // the directory load does, and nothing else.
    val out = tmpDir("edf_fileload")
    val src = spark.read.format("edf").option("chunk_records", "4").load(dir)
      .orderBy("path", "channel", "chunk_idx")
    src.where(col("path").contains("rec1"))
      .write.format("edf").mode("append").save(out)
    val v2 = src.withColumn("samples", transform(col("samples"), x => x * 0.5))
    val cleanOut = tmpDir("edf_fileload_clean")
    v2.write.format("edf").mode("append").save(cleanOut)
    val newView = signalView(cleanOut)
    stageAndCrash(out, "file-load", v2, "rec0.edf")
    assert(signalView(out) == newView,
      "directory reader did not see the in-flight export's complete state")
    Seq("rec0.edf", "rec1.edf").foreach { n =>
      assert(signalView(s"$out/$n") == newView.filter(_._1._1 == n),
        s"file load of $n disagrees with the directory load")
    }
    // A multi-path load is refused, never read in part.
    val e = intercept[Exception](spark.read.format("edf")
      .load(s"$out/rec0.edf", s"$out/rec1.edf").collect())
    assert(msgs(e).exists(_.contains("one directory or file")), e.toString)
  }

  test("a pushed path filter cannot prune the loud no-match partition") {
    // A typo'd path must fail the read even when a path predicate is
    // pushed down — pruning the loud partition would silently turn the
    // guaranteed failure into an empty result.
    val e = intercept[Exception](
      spark.read.format("edf").load(s"$dir/nomatch.edf")
        .where(col("path") === s"$dir/rec0.edf").collect())
    assert(msgs(e).exists(m => m.contains("nomatch") ||
      m.toLowerCase.contains("not exist") ||
      m.toLowerCase.contains("no such file")), e.toString)
  }

  test("chunk time offsets advance by chunk length") {
    val df = spark.read.format("edf").option("chunk_records", "4").load(dir)
    val t0s = df.filter(col("channel") === "EOG horizontal")
      .filter(col("path").contains("rec1"))
      .select("chunk_idx", "t0_sec").collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(t0s == Map(0 -> 0.0, 1 -> 4.0, 2 -> 8.0))
  }
}
