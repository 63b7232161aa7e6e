package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** The shared measurement core: the drained task-CPU meter loses no task
  * against an independent listener, the fingerprint is stable, and the
  * plan census counts what a plan holds. */
class MeasureSpec extends SparkSpec {

  /** Two aggregations joined: three shuffle stages plus the result stage. */
  private def multiStage() = {
    val a = spark.range(0, 200000, 1, 4).groupBy((col("id") % 97).as("k"))
      .agg(sum(col("id")).as("s"))
    val b = spark.range(0, 50000, 1, 4).groupBy((col("id") % 89).as("k"))
      .agg(count(lit(1)).as("n"))
    a.join(b, "k")
  }

  test("drained task CPU equals an independent listener's sum for a multi-stage query") {
    val sc = spark.sparkContext
    val ref = new AtomicLong(0L)
    val independent = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) { ref.addAndGet(t.taskMetrics.executorCpuTime); () }
    }
    sc.addSparkListener(independent)
    val meter = Measure.taskCpu(sc)
    try {
      meter.reset()
      ref.set(0L)
      Measure.materialize(multiStage())
      val got = meter.take()
      assert(got > 0L)
      assert(got === ref.get)
    } finally {
      sc.removeSparkListener(meter)
      sc.removeSparkListener(independent)
    }
  }

  test("materialize returns the same fingerprint for two runs of one query") {
    val q = Registry.byName("q_events_hourly")
    val dir = "/root/testdata/sf0.001"
    val first = Measure.materialize(q.fn(spark, dir))
    assert(first === Measure.materialize(q.fn(spark, dir)))
    assert(Measure.materialize(multiStage().limit(0)) === 0L)
  }

  test("plan census counts Exchange and ReusedExchange separately") {
    val text =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   *(5) SortMergeJoin [k#1], [k#2], Inner
        |   :- *(3) Sort [k#1 ASC NULLS FIRST], false, 0
        |   :  +- ShuffleQueryStage 2
        |   :     +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=40]
        |   :        +- *(2) HashAggregate(keys=[k#1], functions=[count(1)])
        |   :           +- ShuffleQueryStage 0
        |   :              +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=20]
        |   :                 +- *(1) HashAggregate(keys=[k#1], functions=[partial_count(1)])
        |   :                    +- *(1) Range (0, 1000, step=1, splits=4)
        |   +- *(4) Sort [k#2 ASC NULLS FIRST], false, 0
        |      +- ShuffleQueryStage 3
        |         +- ReusedExchange [k#2, n#3L], Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=40]
        |""".stripMargin
    val c = Profile.census(text).toMap
    assert(c("Exchange") === 2)
    assert(c("ReusedExchange") === 1)
    assert(c("HashAggregate") === 2)
    assert(c("BroadcastExchange") === 0)
    assert(c("FileScan") === 0)
  }

  test("plan census reads a real executed plan: a self-joined aggregate reuses its exchange") {
    val a = spark.range(0, 1000, 1, 4).groupBy((col("id") % 10).as("k")).count()
    val df = a.join(a.withColumnRenamed("count", "c2"), "k")
    df.collect()
    val c = Profile.census(df.queryExecution.executedPlan.toString).toMap
    // the executed AQE plan prints the final plan (one shuffle, its reuse
    // under the broadcast side) and then the initial plan (two shuffles,
    // no reuse yet); the broadcast side appears once in each
    assert(c("ReusedExchange") === 1)
    assert(c("Exchange") === 3)
    assert(c("BroadcastExchange") === 2)
  }
}
