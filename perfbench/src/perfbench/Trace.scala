package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

object Stats {
  /** Linear-interpolated quantile of `xs` (q in [0, 1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.toArray.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Float => apply(n.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => str(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

/** Bytes allocated by the calling thread (HotSpot's per-thread TLAB count). */
object Alloc {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def now(): Long = mx.getCurrentThreadAllocatedBytes
}

final case class Span(id: Int, parent: Int, name: String, startUs: Double, endUs: Double, attrs: Map[String, Any])

/** In-memory span store. A span has a name, a parent, start/end in µs since
  * the run began, and attributes; nothing is recorded when disabled, and the
  * spans are written out once, at the end of the run.
  */
final class Spans(val enabled: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  private val buf = ArrayBuffer.empty[Span]
  private var nextId = 1

  def nowUs(): Double = (System.nanoTime() - t0Ns) / 1e3
  def epochMsToUs(ms: Long): Double = (ms - t0EpochMs) * 1e3

  def add(parent: Int, name: String, startUs: Double, endUs: Double, attrs: Map[String, Any] = Map.empty): Int =
    if (!enabled) 0 else synchronized {
      val id = nextId
      nextId += 1
      buf += Span(id, parent, name, startUs, endUs, attrs)
      id
    }

  /** Reserve an id for a span whose children are recorded before it ends. */
  def open(): Int = if (!enabled) 0 else synchronized { val id = nextId; nextId += 1; id }
  def close(id: Int, parent: Int, name: String, startUs: Double, attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) synchronized { buf += Span(id, parent, name, startUs, nowUs(), attrs) }

  def all: Seq[Span] = synchronized(buf.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startUs).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

final case class Job(id: Int, site: String, startMs: Long, var endMs: Long)
final case class Task(jobId: Int, stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteB: Long, outputB: Long, failed: Boolean)

/** Collects Spark job and task records from the benchmark's side of the
  * listener bus: job call site and span, task run/CPU/GC time, shuffle and
  * output bytes, and failures.
  */
final class ExecListener extends SparkListener {
  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("?")
    jobs += Job(e.jobId, site, e.time, -1L)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.taskInfo == null || !e.taskInfo.successful
    tasks += (if (m == null) Task(stageJob.getOrElse(e.stageId, -1), e.stageId, 0, 0, 0, 0, 0, failed)
      else Task(stageJob.getOrElse(e.stageId, -1), e.stageId, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten, failed))
  }
  def snapshot(): (Seq[Job], Seq[Task]) = synchronized((jobs.toList, tasks.toList))
}
