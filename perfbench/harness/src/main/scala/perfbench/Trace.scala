package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call. `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long,
    startNs: Long, endNs: Long, runId: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for one traced run. Layer calls open spans on
  * the driver thread (a stack gives the parent); Spark jobs are added by
  * [[LayerListener]] as children of the span whose id the job carried in
  * its local properties. Nothing is written until [[write]].
  */
final class Trace(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  /** Called with the innermost open span id whenever it changes. */
  @volatile var onCurrent: Long => Unit = _ => ()
  // epoch-ms event times (listener) → this JVM's nanoTime clock
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  def current: Long = stack.headOption.getOrElse(0L)

  def span[A](name: String)(body: => A): A = {
    val id = ids.incrementAndGet()
    val parent = current
    stack = id :: stack
    onCurrent(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      onCurrent(current)
      spans.add(Span(id, name, parent, t0, t1, runId))
    }
  }

  def addEpochMs(name: String, parent: Long, startMs: Long, endMs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), name, parent,
      startMs * 1000000L - epochOffsetNs, endMs * 1000000L - epochOffsetNs,
      runId))

  def all: Seq[Span] = spans.asScala.toVector.sortBy(_.startNs)

  /** Duration minus the part of it covered by direct children. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
      else hi = hi max b
    }
    if (hi > lo) covered += hi - lo
    s.durNs - covered
  }

  /** Ids of the spans matching `pred` and of every span below them. */
  def within(pred: Span => Boolean): Set[Long] = {
    val byParent = all.groupBy(_.parent)
    def walk(id: Long): Seq[Long] =
      id +: byParent.getOrElse(id, Nil).flatMap(c => walk(c.id))
    all.filter(pred).flatMap(s => walk(s.id)).toSet
  }

  /** Per span name: (calls, total seconds). */
  def totals: Map[String, (Long, Double)] =
    all.groupBy(_.name).map { case (n, ss) =>
      n -> (ss.size.toLong, ss.map(_.durNs).sum / 1e9)
    }

  /** Jobs whose parent is a span matching `pred` or lies below one. */
  def jobsUnder(pred: Span => Boolean): Long = {
    val ids = within(pred)
    all.count(s => s.name == "spark.job" && ids.contains(s.parent)).toLong
  }

  def write(path: String): Unit = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      Json.obj(Seq("run_id" -> s.runId, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_ns" -> selfNs(s, kids.getOrElse(s.id, Nil))))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Trace {
  /** Spark local property that carries the open span id into jobs. */
  val SpanKey = "perfbench.span"
}

/** Minimal JSON writer for flat result records. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
