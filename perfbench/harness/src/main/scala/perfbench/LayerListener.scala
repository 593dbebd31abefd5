package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Traced runs only: Spark jobs become `spark.job` spans under the span
  * that started them, and task metrics are summed for the queries layer.
  */
final class LayerListener(trace: Trace) extends SparkListener {
  val jobs, stages, tasks, tasksFailed = new AtomicLong
  val runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, input =
    new AtomicLong
  private val open = new ConcurrentHashMap[Int, (Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val parent = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    open.put(e.jobId, (e.time, parent))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { case (t0, parent) =>
      trace.addEpochMs("spark.job", parent, t0, e.time)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) tasksFailed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Counter values, for before/after deltas around a pass. */
  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "tasks_failed" -> tasksFailed.get, "run_ms" -> runMs.get,
    "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_write" -> shuffleWrite.get, "shuffle_read" -> shuffleRead.get,
    "spill" -> spill.get, "input" -> input.get)
}

/** Counts the Spark jobs of one cold CLI command. Loaded by the command
  * JVM through `-Dspark.extraListeners=perfbench.JobCounter` and writes
  * the count to `spark.perfbench.jobsFile` when the application ends.
  */
final class JobCounter(conf: org.apache.spark.SparkConf) extends SparkListener {
  private val jobs = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    conf.getOption("spark.perfbench.jobsFile").foreach { f =>
      java.nio.file.Files.write(java.nio.file.Paths.get(f),
        jobs.get.toString.getBytes("UTF-8"))
    }
}
