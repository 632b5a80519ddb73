package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM via Test/fork). */
object TestSpark {
  // Engine-default confs (graft.Sessions) apply here too, so specs assert
  // behavior under the same session shape the bench/verify entrypoints run.
  lazy val session: SparkSession = Sessions.localBuilder("4")
    .appName("graft-test")
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f`'s result and the call site of each Spark job it started, seen by
    * a listener on a job group. A job a query runs from another thread (as
    * adaptive execution does) takes the call site of its SQL execution. A
    * sentinel job runs after `f`: listener events arrive in order, so once
    * the sentinel's start is seen every job of `f` has been counted.
    */
  def withJobSites[T](f: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val queries = new ConcurrentHashMap[String, String]()
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case q: SparkListenerSQLExecutionStart =>
          queries.put(q.executionId.toString, q.details)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val site = prop("spark.sql.execution.id").flatMap(id => Option(queries.get(id)))
          .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse(""))
        jobs.add((prop("spark.jobGroup.id").getOrElse(""), site))
      }
    }
    def sentinelSeen = jobs.asScala.exists(_._1 == "spec-sentinel")
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("spec-under-test", "jobs under test")
      val result = try f finally sc.clearJobGroup()
      sc.setJobGroup("spec-sentinel", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelSeen, "listener never saw the sentinel job")
      (result, jobs.asScala.toSeq.collect { case ("spec-under-test", site) => site })
    } finally sc.removeSparkListener(listener)
  }

  /** `f`'s result and the number of Spark jobs it started. */
  def withJobs[T](f: => T): (T, Int) = {
    val (result, sites) = withJobSites(f)
    (result, sites.size)
  }
}
