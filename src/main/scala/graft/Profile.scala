package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Dev main: where a registered query's seconds go.
  *
  * `time <sfDir> <rounds> <q1> [q2 ...]` runs one untimed warm-up round,
  * then `rounds` timed rounds, each in a fresh session (per-context memos
  * and checkpoint pins start empty). In a round every query runs twice,
  * in the given order:
  *  - `cold`: its first run in the session, as a fresh job sees it. A
  *    later query still reads what earlier ones left in the session memo,
  *    so a sequence shows cross-query sharing;
  *  - `warm`: after `clearCache`, the [[Bench]] harness's view.
  * Each run prints wall, summed executor task CPU and the
  * build / plan / exec split of [[Measure.split]]. Every micro-batch of
  * a streaming query prints its `durationMs` breakdown and input rows,
  * tagged with the registry query that started it.
  *
  * `plan <sfDir> <q>` prints the physical plan's operator [[census]] and
  * the exchange/scan lines, then the full `explain("formatted")` between
  * `===PLAN_BEGIN===` / `===PLAN_END===` markers (the text committed
  * under `plans/rNN/`).
  *
  * Usage: runMain graft.Profile time <sfDir> <rounds> <q1> [q2 ...]
  *        runMain graft.Profile plan <sfDir> <q>
  */
object Profile {
  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: rounds :: names if names.nonEmpty =>
      time(sfDir, rounds.toInt, names)
    case "plan" :: sfDir :: name :: Nil => plan(sfDir, name)
    case _ => sys.error(
      "usage: Profile time <sfDir> <rounds> <q1> [q2 ...] | Profile plan <sfDir> <q>")
  }

  /** Count of each census operator in a plan's tree string. A name counts
    * only where it starts a plan line (after the tree glyphs and any
    * `*(n)` codegen stage), so `Exchange` excludes `ReusedExchange` and
    * `BroadcastExchange`. */
  def census(planText: String): Seq[(String, Int)] = Seq("ReusedExchange",
      "Exchange", "HashAggregate", "Generate", "FileScan", "BroadcastExchange").map { k =>
    k -> ("(?m)^\\s*[+:\\-\\*\\s()0-9]*" + k + "\\b").r.findAllIn(planText).length
  }

  private def session(): SparkSession = {
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def time(sfDir: String, rounds: Int, names: Seq[String]): Unit = {
    val fns = names.map(n => n -> SparkEntry.queries(n))
    for (r <- 0 to rounds) {
      val show = r > 0
      val spark = session()
      val cpu = Measure.taskCpu(spark.sparkContext)
      @volatile var current = ""
      if (show) spark.streams.addListener(new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val parts = p.durationMs.keySet().toArray(Array.empty[String]).sorted
            .map(k => s"$k=${p.durationMs.get(k)}").mkString(" ")
          println(s"  $current batch=${p.batchId} rows=${p.numInputRows} $parts")
        }
      })
      for ((name, fn) <- fns; kind <- Seq("cold", "warm")) {
        current = name
        spark.catalog.clearCache()
        cpu.reset()
        val s = Measure.split(fn(spark, sfDir))
        val cpuS = cpu.take() / 1e9
        if (show) println(f"round$r $kind%-4s $name: wall=${s.wall}%.3f s " +
          f"cpu=$cpuS%.3f s build=${s.build}%.3f plan=${s.plan}%.3f " +
          f"exec=${s.exec}%.3f fp=${s.fp}")
      }
      spark.stop()
      // getOrCreate would hand back the stopped session otherwise
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }

  private def plan(sfDir: String, name: String): Unit = {
    val spark = session()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val text = df.queryExecution.executedPlan.toString
    println(census(text).map { case (k, v) => s"$k=$v" }.mkString(" "))
    println(text.linesIterator.filter(l => l.contains("Exchange") ||
      l.contains("Scan parquet") || l.contains("Generate"))
      .take(40).mkString("\n"))
    // stdout, between markers, so callers can slice it out of sbt noise
    println("===PLAN_BEGIN===")
    df.explain("formatted")
    println("===PLAN_END===")
    spark.stop()
  }
}
