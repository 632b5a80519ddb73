package graft

import org.apache.spark.sql.SparkSession

import graft.ingest.{Ingest, RecordingRef, SyntheticSource}
import graft.queries.SleepQueries
import graft.sleep.SleepModels

/** Dev loop: per-stage scaling evidence for the ingest path — the one
  * registry query (`ingest_sleep_summary`) whose work DuckDB cannot replay
  * from scratch (binary EDF parse + Welch PSD are engine-native kernels).
  *
  * Two views, both printed per subject count:
  *  - executor-side stage sums measured INSIDE the fused mapPartitions
  *    (synthetic-recording generation / EDF parse / epoch+Welch+band-power
  *    extraction) — per-subject cost, immune to cluster parallelism; and
  *  - wall-clock for the two pipeline legs (extract→stage-to-parquet, then
  *    staged-epochs→model-DAG→count) — what a user observes.
  *
  * A super-linear per-subject stage sum would mean a kernel that degrades
  * with scale; linear sums with sub-linear wall = healthy parallel scaling
  * (subjects are embarrassingly parallel — one partition each, no shuffle
  * until the model DAG's window/groupBy).
  *
  * Usage: runMain graft.IngestProf [subjectCountsCsv] (default "2,20")
  *
  * `runMain graft.IngestProf 20,200 corrupt` runs the corrupt-corpus legs
  * instead: a file-based ingest with a fixed 10% of subjects planted
  * hostile (truncated payload / hostile record-count header / malformed
  * TAL, rotating), asserting at each scale that the V8 error channel
  * captures EXACTLY the planted subjects, the healthy subjects' epoch
  * rows are identical to a clean-corpus run, and wall-clock tracks the
  * healthy file volume — the scale proof that per-file failure isolation
  * costs nothing on the happy path.
  *
  * `runMain graft.IngestProf 20,200 lenient` runs the salvage legs: the
  * same 10% planted, split between truncated-but-usable recordings (the
  * salvageable class) and unparseable garbage (hostile in any mode), the
  * whole ingest under `lenient = true`. Asserts at each scale that the
  * salvage counters equal the planted truncations, every salvaged
  * subject's epochs are present (a value-subset of the clean run, at
  * most one clipped trailing epoch) AND announced by a SALVAGE_WARNING
  * row, hostile subjects still error, and healthy rows stay
  * byte-identical.
  */
object IngestProf {
  def main(args: Array[String]): Unit = {
    val counts = args.headOption.getOrElse("2,20").split(",").map(_.toInt)
    if (args.length > 1 && args(1) == "corrupt") return corruptMain(counts)
    if (args.length > 1 && args(1) == "lenient") return lenientMain(counts)
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // Warm pass: codegen/JIT for every kernel on the path.
    Ingest.epochsOf(Ingest.extractSynthetic(spark, 2)).count()

    counts.foreach { n =>
      // Executor-side per-stage sums (seconds of CPU inside the fused
      // extraction task, summed over subjects).
      val stages = spark.range(n).repartition(n)
        .mapPartitions { it =>
          it.map { s =>
            val t0 = System.nanoTime()
            val (psgB, hypB) = SyntheticSource.recording(s.toInt, 42L)
            val t1 = System.nanoTime()
            val psg = graft.edf.Edf.parse(psgB)
            val hyp = graft.edf.Edf.parse(hypB)
            val t2 = System.nanoTime()
            val nRows = Ingest.extractRecording(s.toInt, psg, hyp).rows.size
            val t3 = System.nanoTime()
            (t1 - t0, t2 - t1, t3 - t2, nRows.toLong)
          }
        }.collect()
      val gen = stages.map(_._1).sum / 1e9
      val parse = stages.map(_._2).sum / 1e9
      val extract = stages.map(_._3).sum / 1e9
      val epochs = stages.map(_._4).sum

      // Wall-clock legs: extract+stage write, then model DAG over the
      // staged epochs (the ingest_sleep_summary shape).
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_ingestprof").toString
      val wallExtract = time {
        Ingest.epochsOf(Ingest.extractSynthetic(spark, n))
          .write.mode("overwrite").parquet(s"$tmp/epochs")
      }
      val wallDag = time {
        SleepQueries.summaryProjection(
          SleepModels.sleepSummary(SleepModels.sleepMetrics(
            SleepModels.staging(spark.read.parquet(s"$tmp/epochs"))))).count()
      }
      println(
        f"subjects=$n%3d epochs=$epochs%7d | stageSums: gen=$gen%6.2f s " +
          f"parse=$parse%6.2f s extract=$extract%6.2f s | wall: " +
          f"extract+stage=$wallExtract%6.2f s dag=$wallDag%6.2f s")
    }
    spark.stop()
  }

  // ------------------------------------------------- corrupt-corpus legs

  private def writeFile(path: String, bytes: Array[Byte]): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, bytes)
  }

  /** The three hostile-file classes the parser guards reject, rotating
    * per planted subject: truncated payload (an interrupted recording),
    * a hostile record-count header (a ~150 GB allocation plan), and a
    * malformed TAL onset in the hypnogram.
    */
  private def corrupt(s: Int, psg: Array[Byte],
      hyp: Array[Byte]): (Array[Byte], Array[Byte]) = (s / 10) % 3 match {
    case 0 => (psg.dropRight(150), hyp)
    case 1 =>
      val b = psg.clone()
      System.arraycopy("99999999".getBytes("US-ASCII"), 0, b, 236, 8)
      (b, hyp)
    case _ =>
      val b = hyp.clone()
      val headerBytes = new String(b, 184, 8, "US-ASCII").trim.toInt
      var i = headerBytes
      while (i < b.length && b(i) != '+') i += 1
      require(i + 1 < b.length, s"subject $s hypnogram has no TAL to corrupt")
      b(i + 1) = 'q'.toByte // "+q…": a malformed onset field
      (psg, b)
  }

  /** Corrupt-corpus scaling legs (see object doc): distributed file-based
    * ingest over n subjects with 10% planted hostile, vs a clean run over
    * the healthy 90%. Invariants ride along as hard requires.
    */
  private def corruptMain(counts: Array[Int]): Unit = {
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    counts.foreach { n =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_corrupt_$n").toString
      val plantedSet = (0 until n).filter(_ % 10 == 7).toSet
      // Distributed corpus write: every subject's clean pair, plus the
      // corrupted variant for planted subjects (healthy files are shared
      // between the two runs, so "byte-identical input" holds trivially
      // and the disk cost stays ~1.1× the corpus).
      spark.range(n).repartition(math.min(n, Sessions.cpus.toInt))
        .mapPartitions { it =>
          it.map { s0 =>
            val s = s0.toInt
            val (psgB, hypB) = SyntheticSource.recording(s, 42L)
            writeFile(s"$base/clean/psg$s.edf", psgB)
            writeFile(s"$base/clean/hyp$s.edf", hypB)
            if (s % 10 == 7) {
              val (p2, h2) = corrupt(s, psgB, hypB)
              writeFile(s"$base/bad/psg$s.edf", p2)
              writeFile(s"$base/bad/hyp$s.edf", h2)
            }
            s
          }
        }.count()

      def cleanRef(s: Int) =
        RecordingRef(s, s"$base/clean/psg$s.edf", s"$base/clean/hyp$s.edf")
      val healthyRefs =
        (0 until n).filterNot(plantedSet).map(cleanRef)
      val mixedRefs = (0 until n).map { s =>
        if (plantedSet(s))
          RecordingRef(s, s"$base/bad/psg$s.edf", s"$base/bad/hyp$s.edf")
        else cleanRef(s)
      }

      // Untimed full-scale warm pass (the graft.Bench discipline): the
      // first large run in a JVM pays the JIT/allocation cliff the
      // measurement notes document; without this the healthy leg — which
      // happens to run first — reads slower than the corrupt leg.
      Ingest.extract(spark, healthyRefs).count()

      // One extraction pass per corpus, written once and read back for
      // the epoch/error split (the JobRunner discipline).
      val tHealthy = time {
        Ingest.extract(spark, healthyRefs)
          .write.mode("overwrite").parquet(s"$base/healthy_raw")
      }
      val tMixed = time {
        Ingest.extract(spark, mixedRefs)
          .write.mode("overwrite").parquet(s"$base/mixed_raw")
      }

      val mixed = spark.read.parquet(s"$base/mixed_raw").as[Ingest.ExtractRow]
      val errs = Ingest.errorsOf(mixed)
      val errSubjects = errs.select("subject_id").distinct()
        .as[Int].collect().toSet
      require(errSubjects == plantedSet,
        s"error channel caught $errSubjects, planted $plantedSet")
      require(errs.count() == plantedSet.size,
        "expected exactly one error row per planted subject")
      val healthyEpochs = Ingest.epochsOf(
        spark.read.parquet(s"$base/healthy_raw").as[Ingest.ExtractRow])
      val mixedEpochs = Ingest.epochsOf(mixed)
      val nEpochs = healthyEpochs.count()
      require(mixedEpochs.count() == nEpochs,
        "healthy-subject epoch count changed under planted corruption")
      require(mixedEpochs.exceptAll(healthyEpochs).count() == 0 &&
        healthyEpochs.exceptAll(mixedEpochs).count() == 0,
        "healthy-subject epoch rows differ from the clean run")

      println(f"corrupt: subjects=$n%4d planted=${plantedSet.size}%3d " +
        f"errors=${plantedSet.size}%3d epochs=$nEpochs%8d | wall: " +
        f"healthy-only=$tHealthy%6.2f s with-corrupt=$tMixed%6.2f s")

      val bp = new org.apache.hadoop.fs.Path(base)
      bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(bp, true)
    }
    spark.stop()
  }

  // ------------------------------------------------- lenient-salvage legs

  /** Salvage scaling legs (see object doc): lenient ingest over a corpus
    * with 10% planted — alternating salvageable truncations (half the
    * final record clipped) and hostile garbage — asserting the salvage
    * contract holds at decade scale, not just in the unit specs.
    */
  private def lenientMain(counts: Array[Int]): Unit = {
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    import org.apache.spark.sql.functions.col

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    counts.foreach { n =>
      val base = java.nio.file.Files
        .createTempDirectory(s"graft_lenient_$n").toString
      val planted = (0 until n).filter(_ % 10 == 7)
      // Alternate the planted classes so both appear at every scale.
      val truncSet = planted.filter(s => (s / 10) % 2 == 0).toSet
      val hostileSet = planted.filter(s => (s / 10) % 2 == 1).toSet

      spark.range(n).repartition(math.min(n, Sessions.cpus.toInt))
        .mapPartitions { it =>
          it.map { s0 =>
            val s = s0.toInt
            val (psgB, hypB) = SyntheticSource.recording(s, 42L)
            writeFile(s"$base/clean/psg$s.edf", psgB)
            writeFile(s"$base/clean/hyp$s.edf", hypB)
            if (s % 10 == 7) {
              // Truncation keeps every complete record (salvageable);
              // garbage fails the 256-byte header parse in any mode.
              val bad: Array[Byte] =
                if ((s / 10) % 2 == 0) psgB.dropRight(150)
                else "not an edf at all".getBytes("US-ASCII")
              writeFile(s"$base/bad/psg$s.edf", bad)
            }
            s
          }
        }.count()

      def cleanRef(s: Int) =
        RecordingRef(s, s"$base/clean/psg$s.edf", s"$base/clean/hyp$s.edf")
      val cleanRefs = (0 until n).map(cleanRef)
      val mixedRefs = (0 until n).map { s =>
        if (s % 10 == 7)
          RecordingRef(s, s"$base/bad/psg$s.edf", s"$base/clean/hyp$s.edf")
        else cleanRef(s)
      }

      // Untimed full-scale warm passes (JIT/allocation cliff discipline)
      // over BOTH corpora: the mixed pass warms the salvage and
      // per-file-error code paths, the clean pass warms the 10% of clean
      // files the mixed corpus replaces — so neither timed leg pays
      // first-read or first-execution costs the other already absorbed.
      Ingest.extract(spark, mixedRefs, lenient = true).count()
      Ingest.extract(spark, cleanRefs, lenient = true).count()

      val tClean = time {
        Ingest.extract(spark, cleanRefs, lenient = true)
          .write.mode("overwrite").parquet(s"$base/clean_raw")
      }
      val metrics = Ingest.ExtractMetrics(spark)
      val tMixed = time {
        Ingest.extract(spark, mixedRefs, Some(metrics), lenient = true)
          .write.mode("overwrite").parquet(s"$base/mixed_raw")
      }

      // Salvage counters == planted truncations (one clipped record each).
      require(metrics.salvagedRecords.value == truncSet.size.toLong,
        s"salvaged ${metrics.salvagedRecords.value} records, " +
          s"planted ${truncSet.size} truncations")

      val mixed = spark.read.parquet(s"$base/mixed_raw").as[Ingest.ExtractRow]
      val errs = Ingest.errorsOf(mixed).persist()
      // Hostile subjects still error — exactly them, one row each.
      val failed = errs.filter(col("error_type") =!= Ingest.SalvageWarningType)
        .select("subject_id").as[Int].collect().toSet
      require(failed == hostileSet,
        s"real failures $failed, planted hostile $hostileSet")
      // Every salvaged subject is announced through the queryable channel.
      val warned = errs.filter(col("error_type") === Ingest.SalvageWarningType)
        .select("subject_id").as[Int].collect().toSet
      require(warned == truncSet,
        s"SALVAGE_WARNING for $warned, planted truncations $truncSet")
      require(errs.count() == planted.size.toLong,
        "expected exactly one error/warning row per planted subject")
      errs.unpersist()

      val cleanEpochs = Ingest.epochsOf(
        spark.read.parquet(s"$base/clean_raw").as[Ingest.ExtractRow])
      val mixedEpochs = Ingest.epochsOf(mixed)
      // No invented rows: every mixed epoch appears in the clean run
      // (healthy identical, salvaged a value-subset, hostile absent).
      require(mixedEpochs.exceptAll(cleanEpochs).count() == 0,
        "mixed run produced epoch rows absent from the clean run")
      require(mixedEpochs.filter(col("subject_id")
        .isInCollection(hostileSet)).count() == 0,
        "hostile subjects must not load epochs")
      // The only rows missing vs the clean run (hostile subjects aside)
      // are the salvaged subjects' clipped tails — at most one epoch each.
      val missing = cleanEpochs
        .filter(!col("subject_id").isInCollection(hostileSet))
        .exceptAll(mixedEpochs).persist()
      val missingSubjects = missing.select("subject_id").distinct()
        .as[Int].collect().toSet
      require(missingSubjects.subsetOf(truncSet),
        s"non-salvaged subjects lost rows: ${missingSubjects -- truncSet}")
      require(missing.count() <= truncSet.size.toLong,
        "salvage clipped more than the trailing epoch per truncated subject")
      missing.unpersist()

      println(f"lenient: subjects=$n%4d trunc=${truncSet.size}%3d " +
        f"hostile=${hostileSet.size}%3d " +
        f"salvaged=${metrics.salvagedRecords.value}%3d | wall: " +
        f"clean=$tClean%6.2f s with-planted=$tMixed%6.2f s")

      val bp = new org.apache.hadoop.fs.Path(base)
      bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(bp, true)
    }
    spark.stop()
  }
}
