package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per JVM; sbt forks once). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // the harness's codegen and catalog-read confs, not the rest of
    // `tuned`: its SHJ threshold would turn the sort-merge joins AqeSpec
    // and CboSpec assert into shuffled-hash joins
    val s = SessionDefaults.catalogReads(SessionDefaults.codegen(
      SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // Quiesce before the context stops at JVM exit. Spark's context-stop
    // hook runs inside Hadoop's ShutdownHookManager at priority
    // FileSystem.SHUTDOWN_HOOK_PRIORITY + 30 = 40; a higher-priority hook
    // runs FIRST in the same hook thread. Without this, a streaming
    // micro-batch (or any straggler job) still submitting at exit races
    // the local executor's pool teardown and logs "task ... rejected from
    // ThreadPoolExecutor[Terminated]" — the r16 driver-visible test flake.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      new Runnable {
        override def run(): Unit = {
          try {
            s.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
            val sc = s.sparkContext
            sc.cancelAllJobs()
            val tracker = sc.statusTracker
            val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
            while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
              Thread.sleep(50)
          } catch { case _: Throwable => () }
        }
      },
      100)
    s
  }
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** Run `f` with the given session confs set, restoring (or unsetting)
    * each one afterwards.
    */
  def withConf[T](kvs: (String, String)*)(f: => T): T = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The Spark jobs `f` starts on this thread, by description. A job
    * group tags them; a marker job after `f` flushes the listener queue
    * (events arrive in order), so the list is complete on return.
    */
  def jobsStartedBy(f: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val group = s"jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => jobs.add(Option(p.getProperty("spark.job.description"))
            .getOrElse("")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      f
      sc.setJobDescription("marker")
      spark.range(1).count()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(jobs.contains("marker"), "marker job never reached the listener")
      jobs.asScala.toSeq.filter(_ != "marker")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
