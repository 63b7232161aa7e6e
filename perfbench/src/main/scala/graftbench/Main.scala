package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, Registry, Sessions}

/** JVM side of the benchmark (`perfbench/run.py` is the entry point).
  *
  * `Main <plan-file>` reads `key=value` lines. One client issues the
  * workload's queries back to back (a closed loop):
  *
  *  - pass 0 is the cold pass, the first in a fresh JVM, as a scheduled
  *    batch job runs: each result is written as parquet under `dump`,
  *    where the caller checks it against the query's DuckDB oracle;
  *  - warm passes follow until `seconds` have been measured. Each result
  *    is materialized as `bit_xor(xxhash64(struct(*)))`, which reads every
  *    column of every row and is the fingerprint the caller compares with
  *    the verified one.
  *
  * Every pass gets a fresh SparkContext, so per-context memos and
  * checkpoint pins are rebuilt as a real job would rebuild them. With
  * `trace=1` warm passes alternate untraced and traced, and a layer probe
  * times the engine's operators one pinned stage at a time ([[Layers]]).
  */
object Main {
  final class Plan(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"plan lacks '$k'"))
    def list(k: String): Seq[String] = apply(k).split(',').toSeq.filter(_.nonEmpty)
    def int(k: String): Int = apply(k).toInt
  }

  final case class QRun(name: String, wall: Double, build: Double,
                        plan: Double, exec: Double, fp: String, err: String,
                        stat: Option[ExecStat])

  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** CPU time this JVM has used so far, all threads, in nanoseconds. */
  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def fingerprint(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)").as("fp"))

  private def errOf(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .replaceAll("\\s+", " ").take(300) +
      (if (root ne e) s" (cause: ${root.getClass.getSimpleName})" else "")
  }

  def newSession(p: Plan): SparkSession = {
    val s = Sessions.builder(p("cpus"))
      .config("spark.local.dir", p("localDir"))
      .config("spark.graft.stream.scratchDir", p("streamDir"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val src = scala.io.Source.fromFile(args(0), "UTF-8")
    val plan = try new Plan(src.getLines().filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap)
      finally src.close()
    HeapWatch.install()
    run(plan, plan.list("queries").map(Registry.byName))
  }

  private def run(p: Plan, queries: Seq[Q]): Unit = {
    val dir = p("data")
    val dump = p("dump")
    val traceRun = p("trace") == "1"
    val tracer = new Tracer
    val origin = System.nanoTime()
    var firstSessionFromLaunch = 0.0
    var coldProcessCpu = 0.0

    /** One query to its result: written to `dump` in the cold pass,
      * fingerprinted in warm ones. */
    def runQuery(spark: SparkSession, meter: TaskMeter, cold: Boolean,
                 traced: Boolean, passName: String, q: Q): QRun = {
      spark.catalog.clearCache()
      meter.current = q.name
      spark.sparkContext.setJobGroup(q.name, q.name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      var t1, t2 = t0
      def step[T](name: String)(body: => T): T =
        if (traced) tracer.span(name, passName, q.name)(body) else body
      val res = try {
        step(s"query:${q.name}") {
          val df = step("queries.build")(q.fn(spark, dir))
          t1 = System.nanoTime()
          if (cold) {
            t2 = t1
            df.write.mode("overwrite").parquet(s"$dump/${q.name}")
            Right("")
          } else {
            val fpDf = fingerprint(df)
            step("queries.plan")(fpDf.queryExecution.executedPlan)
            t2 = System.nanoTime()
            val row = step("queries.exec")(fpDf.collect()).head
            Right(if (row.isNullAt(0)) "null" else row.getLong(0).toString)
          }
        }
      } catch { case e: Throwable => Left(errOf(e)) }
      val t3 = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      val stat = if (traced) {
        Bus.drain(spark.sparkContext)
        Some(meter.take(q.name))
      } else None
      QRun(q.name, secs(t0, t3), secs(t0, t1), secs(t1, t2), secs(t2, t3),
        res.getOrElse(""), res.left.getOrElse(""), stat)
    }

    def passJson(idx: Int, kind: String, traced: Boolean): String = {
      val passName = s"$kind$idx"
      val ts = System.nanoTime()
      val spark = newSession(p)
      val sessionS = secs(ts, System.nanoTime())
      if (idx == 0)
        firstSessionFromLaunch = (System.currentTimeMillis() - p("launchMs").toLong) / 1e3
      val meter = new TaskMeter(traced)
      spark.sparkContext.addSparkListener(meter)
      val streams = new StreamMeter
      if (traced) spark.streams.addListener(streams)
      val tp = System.nanoTime()
      val cpu0 = processCpuNs()
      def all() = queries.map(q => runQuery(spark, meter, idx == 0, traced, passName, q))
      val runs =
        if (traced) tracer.span(s"pass:$passName", passName, "")(all()) else all()
      val wall = secs(tp, System.nanoTime())
      val procCpu = secs(cpu0, processCpuNs())
      if (idx == 0) coldProcessCpu = processCpuNs() / 1e9
      stopSession(spark) // drains the listener bus
      val qs = runs.map { r =>
        val base = Seq("q" -> Json.str(r.name), "wall" -> Json.num(r.wall),
          "build" -> Json.num(r.build), "plan" -> Json.num(r.plan),
          "exec" -> Json.num(r.exec), "fp" -> Json.str(r.fp),
          "err" -> Json.str(r.err))
        val ex = r.stat.toSeq.flatMap { s =>
          Seq("jobs" -> Json.num(s.jobs), "stages" -> Json.num(s.stages),
            "tasks" -> Json.num(s.tasks), "task_wall_ms" -> Json.num(s.taskWallMs),
            "run_ms" -> Json.num(s.runMs), "cpu_ns" -> Json.num(s.cpuNs),
            "shuffle_write" -> Json.num(s.shuffleWrite),
            "shuffle_read" -> Json.num(s.shuffleRead),
            "spill" -> Json.num(s.spill), "peak_mem" -> Json.num(s.peakMem),
            "gc_ms" -> Json.num(s.gcMs), "input_bytes" -> Json.num(s.inputBytes),
            "input_records" -> Json.num(s.inputRecords),
            "scan_tasks" -> Json.num(s.scanTasks), "busy_ms" -> Json.num(s.busyMs))
        }
        Json.obj(base ++ ex: _*)
      }
      val streamJson = Json.obj(
        "batches" -> Json.num(streams.batches),
        "batch_s" -> Json.num(streams.batchMs / 1e3),
        "add_batch_s" -> Json.num(streams.addBatchMs / 1e3),
        "wal_commit_s" -> Json.num(streams.walCommitMs / 1e3),
        "planning_s" -> Json.num(streams.planningMs / 1e3),
        "state_rows" -> Json.num(streams.totalStateRows),
        "state_mb" -> Json.num(streams.totalStateBytes / 1048576.0),
        "state_commit_s" -> Json.num(streams.stateCommitMs / 1e3))
      Json.obj("index" -> Json.num(idx.toLong), "kind" -> Json.str(kind),
        "traced" -> traced.toString, "session_s" -> Json.num(sessionS),
        "wall_s" -> Json.num(wall), "cpu_s" -> Json.num(meter.cpuNs.get / 1e9),
        "proc_cpu_s" -> Json.num(procCpu),
        "queries" -> Json.arr(qs), "streaming" -> streamJson)
    }

    val passes = mutable.ArrayBuffer(passJson(0, "cold", traced = false))
    var measured = 0.0
    var n = 0
    while (n < p.int("maxWarm") && (n < p.int("minWarm") || measured < p("seconds").toDouble)) {
      n += 1
      settle()
      val t0 = System.nanoTime()
      passes += passJson(n, "warm", traced = traceRun && n % 2 == 0)
      measured += secs(t0, System.nanoTime())
    }
    // Extra set-ups, so `setup_s` is a median over several warm ones.
    val setups = (1 to p.int("setups")).map { _ =>
      val t0 = System.nanoTime()
      val s = newSession(p)
      val d = secs(t0, System.nanoTime())
      stopSession(s)
      d
    }
    val rssMb = peakRssMb()
    val heapMb = HeapWatch.peakAfterGc / 1048576.0
    val layers = if (traceRun) Layers.probe(p, tracer) else Seq.empty
    if (traceRun) tracer.write(p("spans"), origin)
    val oracle = Json.obj(queries.flatMap(q => q.oracle.map(q.name -> Json.str(_))): _*)
    val out = Json.obj(
      "first_session_from_launch_s" -> Json.num(firstSessionFromLaunch),
      "peak_rss_mb" -> Json.num(rssMb),
      "peak_heap_mb" -> Json.num(heapMb),
      "cold_process_cpu_s" -> Json.num(coldProcessCpu),
      "setups" -> Json.arr(setups.map(Json.num)),
      "passes" -> Json.arr(passes),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }: _*),
      "oracle_sql" -> oracle)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p("out")), out)
    ()
  }

  /** Lets the previous pass's garbage and the JIT compile queue drain
    * before a timed warm pass: a full GC, then a wait (at most 3 s) until
    * the JIT compiler has been idle for 250 ms. */
  private def settle(): Unit = {
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + 3000000000L
    var last = jit.getTotalCompilationTime
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = jit.getTotalCompilationTime
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  /** VmHWM of this JVM: the resident-set high-water mark, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}

/** Largest heap occupancy seen right after any garbage collection: the
  * peak of what the JVM had to keep, independent of how far the heap was
  * allowed to grow before collecting. */
object HeapWatch {
  import com.sun.management.GarbageCollectionNotificationInfo
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData

  @volatile var peakAfterGc = 0L

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener(new NotificationListener {
        override def handleNotification(n: Notification, hb: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
            if (used > peakAfterGc) peakAfterGc = used
          }
      }, null, null)
    case _ => ()
  }
}
