package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Executor-side work attributed to one key (a query, or a probe span). */
final class ExecStat {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskWallMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakMem = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var scanTasks = 0L
  /** (launch, finish) epoch-ms of every task, for the busy-time union. */
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds during which at least one task was running. */
  def busyMs: Long = {
    var busy = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { busy += e - s; end = e }
      else if (e > end) { busy += e - end; end = e }
    }
    busy
  }
}

/** Spark listener for one SparkContext. Always sums task CPU (the
  * untraced run's `cpu_s`); when `full`, also keeps an [[ExecStat]] per
  * job group, falling back to the key the driver loop set last for jobs
  * started from threads that do not inherit the group. */
final class TaskMeter(full: Boolean) extends SparkListener {
  val cpuNs = new AtomicLong(0L)
  @volatile var current: String = ""
  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val stats = mutable.HashMap.empty[String, ExecStat]

  private def stat(k: String): ExecStat = synchronized {
    stats.getOrElseUpdate(k, new ExecStat)
  }

  /** Removes and returns what was recorded under `k`. */
  def take(k: String): ExecStat = synchronized {
    stats.remove(k).getOrElse(new ExecStat)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (full) {
    val key = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(current)
    e.stageInfos.foreach(si => stageKey.put(si.stageId, key))
    val s = stat(key)
    synchronized { s.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (full) {
      val s = stat(stageKey.getOrDefault(e.stageInfo.stageId, current))
      synchronized { s.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      if (full) {
        val s = stat(stageKey.getOrDefault(e.stageId, current))
        val info = e.taskInfo
        synchronized {
          s.tasks += 1
          s.taskWallMs += info.finishTime - info.launchTime
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.memoryBytesSpilled
          s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
          s.gcMs += m.jvmGCTime
          val in = m.inputMetrics
          if (in.bytesRead > 0 || in.recordsRead > 0) {
            s.scanTasks += 1
            s.inputBytes += in.bytesRead
            s.inputRecords += in.recordsRead
          }
          s.intervals += ((info.launchTime, info.finishTime))
        }
      }
    }
  }
}

/** Micro-batch progress of every streaming query in one session. */
final class StreamMeter extends StreamingQueryListener {
  var batches = 0L
  var batchMs = 0L
  var addBatchMs = 0L
  var walCommitMs = 0L
  var planningMs = 0L
  var stateCommitMs = 0L
  /** Last reported state size per streaming run. */
  private val stateRows = mutable.HashMap.empty[java.util.UUID, Long]
  private val stateBytes = mutable.HashMap.empty[java.util.UUID, Long]

  def totalStateRows: Long = synchronized(stateRows.values.sum)
  def totalStateBytes: Long = synchronized(stateBytes.values.sum)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      batches += 1
      batchMs += d.getOrElse("triggerExecution", 0L)
      addBatchMs += d.getOrElse("addBatch", 0L)
      walCommitMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
      planningMs += d.getOrElse("queryPlanning", 0L)
      val ops = p.stateOperators.toSeq
      stateCommitMs += ops.map(_.commitTimeMs).sum
      if (ops.nonEmpty) {
        stateRows(p.runId) = ops.map(_.numRowsTotal).sum
        stateBytes(p.runId) = ops.map(_.memoryUsedBytes).sum
      }
    }
}

final case class Span(id: Int, parent: Int, name: String, pass: String,
                      query: String, start: Long, end: Long)

/** In-memory span log, written out once when the run ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 1

  def span[T](name: String, pass: String, query: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, pass, query, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def write(path: String, origin: Long): Unit = {
    val lines = spans.map { s =>
      Json.obj(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "pass" -> Json.str(s.pass),
        "query" -> Json.str(s.query),
        "start" -> Json.num((s.start - origin) / 1e9),
        "end" -> Json.num((s.end - origin) / 1e9))
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
    ()
  }
}

/** Just enough JSON writing for the harness's own output files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(l: Long): String = l.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ", ", "]")
}
