package graft

/** The registered streaming query (q_stream_moments) must produce exactly
  * the batch q_value_moments answer — its oracle IS that query's SQL, so
  * the equality this spec pins locally is the one the driver's DuckDB
  * compare checks at sf0.01. Also pins that the plan really went through
  * a streaming execution (a StreamingQueryListener sees it start), that a
  * gate run leaves no memory-sink view behind, and that the scratch
  * checkpoint sweep removes only a dead JVM's directories.
  */
class StreamRegistrySpec extends SparkSpec {

  test("q_stream_moments equals batch q_value_moments on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Registry.byName("q_stream_moments").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    val batch = Registry.byName("q_value_moments").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("q_stream_moments shares q_value_moments' oracle verbatim") {
    assert(Registry.byName("q_stream_moments").oracle ===
      Registry.byName("q_value_moments").oracle)
  }

  test("q_stream_crawl equals batch q_crawl_dedup AND still folds " +
      "across multiple micro-batches after the r16 reprice") {
    // the reprice (maxFilesPerTrigger 1 -> 4) must not collapse the run
    // into one batch — three genuine micro-batches are what make the
    // Complete-mode fold a batch/stream unification proof rather than a
    // single-batch rerun of the batch plan. Count the actual source
    // files and assert the implied batch count the option yields.
    val dir = graft.ops.WarcFixture.ensure()
    val plainSegs = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".warc"))
    assert(plainSegs === graft.ops.WarcFixture.count)
    assert((plainSegs + 3) / 4 >= 3,
      "fixture too small for a multi-batch fold at 4 files/trigger")
    val streamed = Registry.byName("q_stream_crawl").fn(spark, dir)
      .collect().map(_.toSeq).toSeq
    val batch = Registry.byName("q_crawl_dedup").fn(spark, dir)
      .collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed === batch)
    assert(Registry.byName("q_stream_crawl").oracle ===
      Registry.byName("q_crawl_dedup").oracle)
  }

  test("q_stream_moments runs as a real streaming query (a listener sees it start)") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet(); ()
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    try {
      Registry.byName("q_stream_moments").fn(spark, "/root/testdata/sf0.001")
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(spark.sparkContext)
    } finally spark.streams.removeListener(l)
    assert(started.get >= 1)
  }

  test("q_stream_hourly drops its memory-sink view and its frame still " +
      "holds the q_events_hourly answer") {
    val dir = "/root/testdata/sf0.001"
    val streamed = Registry.byName("q_stream_hourly").fn(spark, dir)
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_"))
    assert(views.isEmpty, s"sink views left registered: ${views.mkString(", ")}")
    assert(Measure.materialize(streamed) ===
      Measure.materialize(Registry.byName("q_events_hourly").fn(spark, dir)))
  }

  test("scratch checkpoint sweep deletes a dead pid's directory and keeps " +
      "live and pid-less ones") {
    import java.io.File
    val base = java.nio.file.Files.createTempDirectory("graft-ckpt-sweep").toFile
    try {
      val child = new ProcessBuilder("true").start()
      child.waitFor()
      val dead = child.pid()
      assert(!ProcessHandle.of(dead).isPresent)
      def mk(name: String): File = {
        val d = new File(base, name)
        assert(new File(d, "commits").mkdirs())
        d
      }
      val deadDir = mk(s"graft_stream_ckpt_p${dead}_1_0a1b2c3d")
      val liveDir = mk(s"graft_stream_ckpt_p${ProcessHandle.current().pid()}_2_0a1b2c3d")
      val noPid = mk("graft_stream_ckpt_3_0a1b2c3d")
      queries.StreamQueries.sweepDeadCheckpoints(base)
      assert(!deadDir.exists())
      assert(liveDir.exists())
      assert(noPid.exists())
    } finally graft.ops.Dirs.deleteRec(base)
  }
}
