package extractbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** One timed call: `parent` is the id of the enclosing span on the same
  * thread (0 at top level); spans of one operation share `run`. */
final case class Span(id: Long, parent: Long, run: Long, name: String,
                      start: Long, end: Long)

/** In-memory span recorder. Spans are buffered per thread and only
  * merged and written out when the benchmark ends, so recording costs
  * two `nanoTime` calls and one append. */
final class Tracer {
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val buffers = new java.util.concurrent.ConcurrentLinkedQueue[ArrayBuffer[Span]]()

  private final class Local {
    val buf = new ArrayBuffer[Span](1 << 12)
    buffers.add(buf)
    var parent = 0L
    var run = 0L
  }
  private val local = ThreadLocal.withInitial[Local](() => new Local)

  /** Start a new operation on this thread; its spans share a run id. */
  def newRun(): Long = {
    val r = ids.incrementAndGet()
    local.get.run = r
    r
  }

  def span[T](name: String)(body: => T): T = {
    val l = local.get
    val id = ids.incrementAndGet()
    val saved = l.parent
    l.parent = id
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      l.parent = saved
      l.buf += Span(id, saved, l.run, name, t0, t1)
    }
  }

  def spans: Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    buffers.forEach(b => out ++= b)
    out.toSeq
  }

  /** Self time per span name (ns): each span's duration minus the time
    * its direct children cover; children of one span are sequential. */
  def selfTimes(ss: Seq[Span] = spans): Map[String, (Long, Long)] = {
    val childNs = new java.util.HashMap[Long, Long]()
    ss.foreach(s => if (s.parent != 0L)
      childNs.merge(s.parent, s.end - s.start, (a: Long, b: Long) => a + b))
    ss.groupBy(_.name).map { case (n, group) =>
      n -> ((group.map(s => s.end - s.start - childNs.getOrDefault(s.id, 0L)).sum,
        group.size.toLong))
    }
  }

  /** Spans as gzipped JSON lines. */
  def write(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(f)), StandardCharsets.UTF_8))
    try spans.sortBy(_.start).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"run":${s.run},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Per-task metrics of one Spark task. */
final case class TaskSample(stageId: Int, durationMs: Long, runMs: Long,
                            cpuNs: Long, gcMs: Long, shuffleWriteBytes: Long)

/** Collects task metrics while `recording`; read after draining the
  * listener bus. */
final class TaskListener extends SparkListener {
  @volatile var recording = false
  private val buf = ArrayBuffer.empty[TaskSample]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recording && e.taskMetrics != null && e.taskInfo != null) {
      val m = e.taskMetrics
      val s = TaskSample(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten)
      buf.synchronized(buf += s)
    }

  def drain(): Seq[TaskSample] = buf.synchronized {
    val out = buf.toList
    buf.clear()
    out
  }
}
