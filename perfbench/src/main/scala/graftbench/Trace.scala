package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span has a name, start and
  * end (ns), the span that encloses it and the op it belongs to. Spans are
  * only kept in memory; `toJson` renders them once, at the end of the run.
  */
final class Spans {
  final case class Span(id: Int, parent: Int, name: String, op: String,
      startNs: Long, startMs: Long, var endNs: Long = -1L, var endMs: Long = -1L)

  private val spans = ArrayBuffer.empty[Span]

  def all: Seq[Span] = spans.toSeq
  private var open: List[Span] = Nil

  def apply[A](name: String, op: String)(f: => A): A = {
    val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name, op,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def toJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""op":${Json.str(s.op)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Spans {
  /** Total length covered by a set of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spark-side counters for one window of work, gathered by a listener that
  * the benchmark registers on its own session. All callbacks arrive on the
  * listener bus thread; readers synchronize on the listener. The caller
  * drains the bus before it attaches the listener and before it reads it,
  * so a window holds exactly the events of the work done inside it.
  */
final class SparkCounters extends SparkListener {
  private var jobsEnded = 0
  private val jobStart = scala.collection.mutable.HashMap.empty[Int, Long]
  private val allJobSpans = ArrayBuffer.empty[(Long, Long)]
  private var stages = 0
  private val taskMs = ArrayBuffer.empty[Long]
  private var shuffleWriteBytes = 0L
  private var shuffleRecords = 0L
  private var spillBytes = 0L
  private var taskGcMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    jobStart.remove(e.jobId).foreach(s => allJobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      taskGcMs += m.jvmGCTime
    }
  }

  def reset(): Unit = synchronized {
    jobsEnded = 0; jobStart.clear()
    stages = 0; taskMs.clear()
    shuffleWriteBytes = 0L; shuffleRecords = 0L; spillBytes = 0L; taskGcMs = 0L
  }

  /** Counters since the last reset, by per-layer metric name. */
  def snapshot(): Map[String, Double] = synchronized {
    val sorted = taskMs.sorted
    def pct(p: Double) =
      if (sorted.isEmpty) 0.0 else sorted(((sorted.size - 1) * p).round.toInt).toDouble
    Map(
      "spark.jobs" -> jobsEnded.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> taskMs.size.toDouble,
      "task.p50_ms" -> pct(0.5),
      "task.max_ms" -> pct(1.0),
      "shuffle.write_bytes" -> shuffleWriteBytes.toDouble,
      "shuffle.records" -> shuffleRecords.toDouble,
      "spill.bytes" -> spillBytes.toDouble,
      "task.gc_ms" -> taskGcMs.toDouble)
  }

  /** Wall-clock ms within [fromMs, toMs] during which at least one Spark job
    * was running, over every job seen since the listener was added.
    */
  def jobCoveredMs(fromMs: Long, toMs: Long): Long = synchronized {
    Spans.covered(allJobSpans.toSeq.collect {
      case (s, e) if e > fromMs && s < toMs => (math.max(s, fromMs), math.min(e, toMs))
    })
  }
}

/** JVM-wide collector time and post-GC heap. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def heapAfterGcMb: Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
