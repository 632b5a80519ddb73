package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Dev loop: profile ONE registry query's job structure — how many Spark
  * jobs an action fans into, and where wall-clock goes. The multi-job
  * scheduling floor (~0.3 s/job on this box) is invisible in `.explain` but
  * dominates short iterative queries; this makes it measurable.
  * Usage: runMain graft.JobProf <queryName> <sfDir>
  */
object JobProf {

  /** `runMain graft.JobProf ALL <sfDir>`: one warm + one measured pass per
    * registry query, printing a per-query (jobs, wall) table sorted by job
    * count — the action-floor audit view (each extra job costs ~0.1-0.3 s
    * of scheduling floor regardless of data size).
    */
  private def sweepAll(spark: SparkSession, sfDir: String): Unit = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    })
    val rows = Registry.all.sortBy(_.name).map { q =>
      try { q.run(spark, sfDir).count() } catch { case _: Throwable => }
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      Thread.sleep(100)
      counter.set(0)
      val t0 = System.nanoTime()
      val ok = try { q.run(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(200) // listener bus drain
      (q.name, if (ok) counter.get() else -1, wall)
    }
    println(f"${"query"}%-28s ${"jobs"}%5s ${"wall_s"}%8s")
    rows.sortBy(-_._2).foreach { case (n, j, w) =>
      println(f"$n%-28s $j%5d $w%8.3f")
    }
    println(f"TOTAL jobs=${rows.map(_._2).filter(_ > 0).sum}  " +
      f"wall=${rows.map(_._3).sum}%.1f s")
  }

  def main(args: Array[String]): Unit = {
    val Array(name, sfDir) = args
    val spark = Sessions.localBuilder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (name == "ALL") { sweepAll(spark, sfDir); spark.stop(); return }
    val q = Registry.byName(name)
    // Warm pass: codegen/JIT/parquet-footer caches are engine startup.
    try q.run(spark, sfDir).count() catch { case _: Throwable => }
    spark.sharedState.cacheManager.clearCache()
    System.gc()
    val jobs = mutable.ArrayBuffer[(Int, Long, Long, Int)]() // id, t0, t1, stages
    val starts = mutable.Map[Int, (Long, Int)]()
    var stageTaskTime = 0L
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        starts.synchronized { starts(j.jobId) = (j.time, j.stageInfos.size) }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        starts.synchronized {
          starts.get(j.jobId).foreach { case (t0, ns) =>
            jobs += ((j.jobId, t0, j.time, ns))
          }
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stageTaskTime += s.stageInfo.taskMetrics.executorRunTime
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    q.run(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(1000) // let the listener bus drain
    println(f"wall=$wall%.3f s  jobs=${jobs.size}  " +
      f"sumJobWall=${jobs.map(j => j._3 - j._2).sum / 1e3}%.3f s  " +
      f"executorTaskTime=${stageTaskTime / 1e3}%.3f s")
    jobs.sortBy(_._2).foreach { case (id, s, e, ns) =>
      println(f"  job $id%3d: ${(e - s) / 1e3}%6.3f s  stages=$ns")
    }
    spark.stop()
  }
}
