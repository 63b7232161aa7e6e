package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.functions.{col, expr, struct, xxhash64}

/** The measurement core the dev mains share: one materialization rule,
  * one build / plan / exec split and one task-CPU meter. */
object Measure {
  /** `bit_xor` of per-row `xxhash64` over the full struct: reads every
    * column of every row, so nothing upstream can be pruned away (a
    * `count()` would let Catalyst drop the projections), and xor, unlike
    * sum, cannot overflow under ANSI mode. Column names are
    * backtick-quoted so names with dots resolve as one column. */
  private def fingerprint(df: DataFrame): DataFrame =
    df.select(xxhash64(struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)).as("h"))
      .agg(expr("bit_xor(h)").as("fp"))

  /** Runs the [[fingerprint]] job and returns its value (0 for no rows). */
  def materialize(df: DataFrame): Long = valueOf(fingerprint(df))

  private def valueOf(fp: DataFrame): Long = {
    val row = fp.collect().head
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** One materialized run, in seconds. `build` is the query function,
    * including any eager driver-side work it does up front (checkpoint
    * pins, trainer collects, a stream's whole execution); `plan` is
    * physical planning of the fingerprint; `exec` is its job(s). */
  final case class Split(build: Double, plan: Double, exec: Double, fp: Long) {
    def wall: Double = build + plan + exec
  }

  def split(query: => DataFrame): Split = {
    val t0 = System.nanoTime()
    val df = query
    val t1 = System.nanoTime()
    val fp = fingerprint(df)
    fp.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val v = valueOf(fp)
    val t3 = System.nanoTime()
    Split((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, v)
  }

  /** Sums executor CPU time over every task that ends on `sc`. Task-end
    * events reach listeners asynchronously, so [[reset]] and [[take]]
    * first drain the listener bus: a reading holds exactly the tasks
    * that ended between the two calls. Task CPU excludes driver-side
    * work, so wall ≫ cpu / cores flags a driver-bound query. */
  final class TaskCpu private[Measure] (sc: SparkContext) extends SparkListener {
    private val ns = new AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) { ns.addAndGet(m.executorCpuTime); () }
    }
    def reset(): Unit = { GraftSqlBridge.drainListenerBus(sc); ns.set(0L) }
    /** Task CPU in nanoseconds since the last reset. */
    def take(): Long = { GraftSqlBridge.drainListenerBus(sc); ns.get }
  }

  /** A [[TaskCpu]] registered on `sc`. */
  def taskCpu(sc: SparkContext): TaskCpu = {
    val m = new TaskCpu(sc)
    sc.addSparkListener(m)
    m
  }
}
