package graftbench

import scala.collection.mutable

import org.apache.spark.graftbench.Bus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{RfpSynth, Tables}
import graft.ops.{Clean, Components, Dedup, Docx, KMeans, Keys, Render, TopK, Vectors}

/** The traced run's layer probe: calls the engine's public operators
  * directly, on the workload's generated tables, one stage at a time.
  * Every intermediate is pinned (persisted and fully materialized) before
  * the next call, so each span times only its own operator. Runs in a
  * fresh SparkContext after the workload passes.
  */
object Layers {
  def probe(p: Main.Plan, tracer: Tracer): Seq[(String, Double)] = {
    val spark = Main.newSession(p)
    val meter = new TaskMeter(full = true)
    spark.sparkContext.addSparkListener(meter)
    val dir = p("data")
    val out = mutable.ArrayBuffer.empty[(String, Double)]
    val pins = mutable.ArrayBuffer.empty[DataFrame]

    def materialize(df: DataFrame): Unit = { Main.fingerprint(df).collect(); () }
    def pin(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      materialize(p)
      pins += p
      p
    }
    /** Times `body` under a span and returns (result, seconds, jobs). */
    def timed[T](name: String)(body: => T): (T, Double, Long) = {
      meter.current = name
      val t0 = System.nanoTime()
      val r = tracer.span(name, "layers", name)(body)
      val s = (System.nanoTime() - t0) / 1e9
      Bus.drain(spark.sparkContext)
      (r, s, meter.take(name).jobs)
    }
    def stage(name: String)(df: => DataFrame): DataFrame = {
      val (r, s, _) = timed(name)(pin(df))
      out += (s"${name}_s" -> s)
      r
    }

    // Tables: one full scan of each of the workload's tables.
    val scans = p.list("tables").map { t =>
      timed(s"Tables.$t")(pin(Tables.load(spark, dir, t)))
    }
    out += ("Tables.scan_s" -> scans.map(_._2).sum)

    // The reference's RFP chain, as q_pipeline_e2e composes it.
    val docs = Tables.documents(spark, dir)
    val raw = pin(RfpSynth.frame(docs))
    val keyed = stage("ops.Keys.addRfpKeys")(Keys.addRfpKeys(raw))
    val cleaned = stage("ops.Clean.cleanRfp")(Clean.cleanRfp(keyed))
    val d1 = stage("ops.Dedup.dedupExact")(Dedup.dedupExact(cleaned,
      Seq("question", "response"), Seq("date", "doc_id")))
    val d2 = stage("ops.Dedup.latestPerGroup")(
      Dedup.latestPerGroup(d1, "question", "date"))
    val d3 = stage("ops.Dedup.longestPerGroup")(
      Dedup.longestPerGroup(d2, "question", "response", "doc_id"))
    out += ("ops.Dedup.kept_ratio" -> d3.count().toDouble / math.max(1L, cleaned.count()))
    val rendered = stage("ops.Render.docBody")(d3.select(
      concat(col("key_hash"), lit(".docx")).as("file_name"),
      Render.docBody(col("client"), col("rfp_type"), col("consultant"),
        date_format(col("date"), "yyyy-MM-dd"), col("sme"), col("question"),
        col("response")).as("doc_text")))
    val docxDir = new java.io.File(p("scratch"), "docx_probe")
    deleteRec(docxDir)
    val (_, docxS, _) = timed("ops.Docx.writeDocx")(
      Docx.writeDocx(rendered, "file_name", "doc_text", docxDir.getPath))
    out += ("ops.Docx.writeDocx_s" -> docxS)
    out += ("ops.Docx.bytes_written_mb" ->
      Option(docxDir.listFiles()).map(_.map(_.length()).sum).getOrElse(0L) / 1048576.0)
    deleteRec(docxDir)

    // Connected components over the q_dup_clusters edge set.
    val ids = docs.select("doc_id")
    val edges = pin(ids.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + 2000000).as("b"))
      .unionAll(ids.filter(col("doc_id") % 20 < 3)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))))
    val (_, ccS, ccJobs) = timed("ops.Components.connectedComponents")(
      materialize(Components.connectedComponents(edges)))
    val (_, starS, starJobs) = timed("ops.Components.connectedComponentsStar")(
      materialize(Components.connectedComponentsStar(edges)))
    out += ("ops.Components.connectedComponents_s" -> ccS)
    out += ("ops.Components.connectedComponentsStar_s" -> starS)
    out += ("ops.Components.jobs_per_call" -> (ccJobs + starJobs) / 2.0)

    // Vector kernels over the embeddings: k-means training, the exact
    // fixed-point dot of the capped query set against the corpus, and
    // the per-query top-k over those scores.
    val vecs = pin(Tables.embeddings(spark, dir)
      .select(col("vec_id"), Vectors.toDoubleArr(col("embedding")).as("v")))
    val (_, kmS, _) = timed("ops.KMeans.train")(KMeans.train(vecs, 8, 2))
    out += ("ops.KMeans.train_s" -> kmS)
    val qs = vecs.filter(col("vec_id") % 100 === 0 && col("vec_id") < 3200)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val (scored, dotS, _) = timed("ops.Vectors.dotScaled")(pin(
      broadcast(qs).crossJoin(vecs)
        .select(col("query_id"), col("vec_id"),
          Vectors.dotScaled(col("qv"), col("v")).as("s"))))
    out += ("ops.Vectors.dotScaled_rows_per_s" -> scored.count() / dotS)
    stage("ops.TopK.perGroup")(TopK.perGroup(scored, Seq(scored("query_id")),
      Seq(scored("s") -> true, scored("vec_id") -> false), 10))

    pins.foreach(_.unpersist())
    Main.stopSession(spark)
    out.toSeq
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
    ()
  }
}
