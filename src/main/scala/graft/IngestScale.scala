package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dirs, Tar, Warc, WarcFixture}

/** Dev measurement for the INGEST-codec scale claims (VERDICT r15 #5):
  * the WARC/TAR container paths are architecturally linear-per-file
  * mapPartitions scans, and this harness makes that measured rather
  * than asserted. It synthesizes parameterized corpora (segments ×
  * records × body size, plain AND per-record-gzip for WARC; sample
  * pairs for TAR) at three scales, times the four ingest shapes
  * (q_warc_scan, q_crawl_e2e's gate+strip chain, q_crawl_dedup's
  * digest argmin, q_tar_roundtrip's shard export + re-scan), and holds
  * each run to BIT-EXACT oracles that never go through the engine
  * under test:
  *  - record count and an xor-folded md5 of every response body,
  *    recomputed driver-side from the GENERATOR's strings;
  *  - plain ≡ gzip equality on every aggregate (two byte-level framings
  *    of the same corpus must agree exactly);
  *  - the TAR round trip must hand back the exact input frame.
  * One JSON line per (op, scale): records, bytes, 3-run median secs.
  *
  * Usage: runMain graft.IngestScale [runs=3]
  */
object IngestScale {
  def main(args: Array[String]): Unit = {
    val runs = if (args.nonEmpty) args(0).toInt else 3
    val spark = Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def report(op: String, scale: String, records: Long, bytes: Long,
               secs: Seq[Double]): Unit =
      println(f"""{"op":"$op","scale":"$scale","records":$records,""" +
        f""""bytes":$bytes,"sec":${median(secs)}%.3f}""")

    // (label, segments, pages per segment, body multiplier) — the last
    // decade exists because the first three land entirely under the
    // per-job scheduling floor (measured flat ~0.3-0.6 s across 150×
    // the bytes); the slope only becomes visible once a scan outweighs
    // the floor
    val scales = Seq(("1x", 12, 5, 1), ("10x", 40, 15, 2),
      ("100x", 120, 50, 4), ("1000x", 360, 150, 8))

    // content-keyed, built once through Dirs.buildOnce (tmp + rename):
    // bump the version when the generator changes; an interrupted run
    // leaves only a .tmp dir, never a trusted partial
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_ingest_scale_v3")
    def ascii(s: String) = s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

    for ((label, segs, pages, mul) <- scales) {
      val dir = new java.io.File(Dirs.buildOnce(
          new java.io.File(root, label).getAbsolutePath) { tmp =>
        // chunked twins in a SUBDIRECTORY so the *.warc globs keep
        // their exact plain file set (the WarcFixture v4 discipline)
        (0 until segs).foreach { i =>
          val recs = WarcFixture.recordsOf(i, pages, mul)
          Dirs.write(tmp, f"seg_$i%04d.warc", ascii(recs.mkString))
          Dirs.write(tmp, f"seg_$i%04d.warc.gz", recs
            .map(r => WarcFixture.gzMemberStored(ascii(r)))
            .foldLeft(Array.empty[Byte])(_ ++ _))
          Dirs.write(tmp, f"chunked/segc_$i%04d.warc",
            ascii(WarcFixture.recordsChunkedOf(i, pages, mul).mkString))
        }
      })
      val plainBytes = dir.listFiles().filter(_.getName.endsWith(".warc"))
        .map(_.length).sum
      val totalRecords = segs.toLong * (1 + 2 * pages)

      // driver-side ground truth from the GENERATOR, not the engine:
      // response count and xor-fold of md5(body) over all responses
      var expResponses = 0L
      var expMd5Xor = 0L
      for (i <- 0 until segs; r <- 0 until pages) {
        val body = WarcFixture.bodyOf(i, r, mul)
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(body.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
          .map(x => f"$x%02x").mkString
        expResponses += 1
        // first 15 hex chars = 60 bits, long-safe on both sides (the
        // HashEmbed.termKey slice)
        expMd5Xor ^= java.lang.Long.parseLong(hex.substring(0, 15), 16)
      }

      def scan(glob: String): DataFrame = Warc.scanWarc(
        spark.read.format("binaryFile").load(s"$dir/$glob")).toDF()

      def scanAgg(glob: String): (Long, Long, Long) = {
        val row = scan(glob).select(col("warc_type"),
            // 60-bit md5 slice of every response body, xor-folded —
            // must equal the generator-side fold exactly
            when(col("warc_type") === "response",
              conv(substring(col("body_md5"), 1, 15), 16, 10).cast("long"))
              .otherwise(0L).as("mk"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("warc_type") === "response", 1L).otherwise(0L))
              .as("nr"),
            expr("bit_xor(mk)").as("mx")).head()
        (row.getLong(0), row.getLong(1), row.getLong(2))
      }

      // three byte-level framings of the SAME corpus — plain,
      // per-record-gzip, and chunked Transfer-Encoding (r16) — must
      // land the identical generator-side record/response/md5 fold:
      // framing invariance as a measured four-decade claim, and the
      // dechunk walk priced against the plain scan on the same bytes
      for ((op, glob) <- Seq("warc_scan" -> "*.warc",
          "warc_scan_gz" -> "*.warc.gz",
          "warc_scan_chunked" -> "chunked/*.warc")) {
        val secs = (1 to runs).map(_ => timed {
          val (n, nResp, md5x) = scanAgg(glob)
          require(n == totalRecords, s"$op $label: $n != $totalRecords")
          require(nResp == expResponses, s"$op $label: resp $nResp")
          require(md5x == expMd5Xor,
            s"$op $label: body-md5 fold mismatch (engine $md5x, " +
              s"generator $expMd5Xor)")
        })
        report(op, label, totalRecords, plainBytes, secs)
      }

      // crawl_e2e shape: HTTP gate -> HTML strip -> word gate; plain
      // and gzip framings must agree on (kept, words) exactly
      def crawlAgg(glob: String): (Long, Long) = {
        val resp = scan(glob).filter(col("warc_type") === "response" &&
          col("http_status") === 200 && col("body_len") > 0)
        val clean = trim(regexp_replace(regexp_replace(col("body"),
          "<[^>]*>", " "), "\\s+", " "))
        val row = resp.select(when(clean === "", 0L)
            .otherwise(size(split(clean, " ")).cast("long")).as("w"))
          .agg(count(lit(1)), sum(col("w"))).head()
        (row.getLong(0), row.getLong(1))
      }
      var crawlPlain: (Long, Long) = null
      val crawlSecs = (1 to runs).map(_ => timed {
        crawlPlain = crawlAgg("*.warc")
      })
      val crawlGz = crawlAgg("*.warc.gz")
      require(crawlPlain == crawlGz,
        s"crawl $label: plain $crawlPlain != gz $crawlGz")
      report("crawl_e2e", label, totalRecords, plainBytes, crawlSecs)

      // crawl_curate_e2e shape: the FULL composed pipeline (digest
      // argmin dedup -> HTML strip -> word gate -> content-digest split
      // -> pack manifest); plain and gzip framings must land the
      // bit-identical manifest (file names suffix-normalized so pack
      // order keys agree)
      def curateAgg(glob: String): (Long, Long) = {
        val reps = scan(glob)
          .filter(col("warc_type") === "response" &&
            col("http_status") === 200 && col("body_len") > 0)
          .groupBy(col("body_md5"))
          .agg(min(struct(
            regexp_replace(col("file_name"), "\\.warc(\\.gz)?$", "")
              .as("f"), col("rec_idx"), col("body"))).as("first"))
        val clean = trim(regexp_replace(regexp_replace(
          col("first.body"), "<[^>]*>", " "), "\\s+", " "))
        val kept = reps
          .select(col("body_md5"), col("first.f").as("f"),
            col("first.rec_idx").as("rec_idx"), clean.as("tc"))
          .withColumn("nw", when(col("tc") === "", 0L)
            .otherwise(size(split(col("tc"), " ")).cast("long")))
          .filter(col("nw") >= 10)
          .withColumn("nc", length(col("tc")).cast("long"))
          .withColumn("split", graft.ops.Sample.splitByGroup(
            col("body_md5"), Seq("train" -> 900, "eval" -> 1000)))
          .withColumn("ck", concat(col("f"), lit("#"),
            lpad(col("rec_idx").cast("string"), 6, "0")))
        val row = graft.ops.Pack.packByBudget(kept, col("split"),
            col("ck"), col("nc"), budget = 400L)
          .groupBy("split", "pack_id")
          .agg(count(lit(1)).as("nd"), sum(col("nc")).as("tc2"))
          .select(xxhash64(col("split"), col("pack_id"), col("nd"),
            col("tc2")).as("h"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("hx")).head()
        (row.getLong(0), row.getLong(1))
      }
      var curatePlain: (Long, Long) = null
      val curateSecs = (1 to runs).map(_ => timed {
        curatePlain = curateAgg("*.warc")
      })
      val curateGz = curateAgg("*.warc.gz")
      require(curatePlain == curateGz,
        s"curate $label: plain $curatePlain != gz $curateGz")
      report("crawl_curate_e2e", label, totalRecords, plainBytes,
        curateSecs)

      // crawl_dedup shape: digest argmin (suffix-normalized file names
      // so the two framings land identical first captures)
      def dedupAgg(glob: String): (Long, Long) = {
        val row = scan(glob).filter(col("warc_type") === "response")
          .groupBy(col("body_md5"))
          .agg(min(struct(
            regexp_replace(col("file_name"), "\\.warc(\\.gz)?$", "")
              .as("f"), col("rec_idx"))).as("first"),
            count(lit(1)).as("n"))
          .select(xxhash64(col("body_md5"), col("first.f"),
            col("first.rec_idx"), col("n")).as("h"))
          .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("hx")).head()
        (row.getLong(0), row.getLong(1))
      }
      var dedupPlain: (Long, Long) = null
      val dedupSecs = (1 to runs).map(_ => timed {
        dedupPlain = dedupAgg("*.warc")
      })
      val dedupGz = dedupAgg("*.warc.gz")
      require(dedupPlain == dedupGz,
        s"dedup $label: plain $dedupPlain != gz $dedupGz")
      report("crawl_dedup", label, totalRecords, plainBytes, dedupSecs)

      // tar roundtrip shape: sample pairs -> one .tar per partition ->
      // re-scan -> must hand back the exact input frame
      val nSamples = totalRecords * 4
      val input = spark.range(nSamples).select(
        format_string("s%08d.txt", col("id")).as("name"),
        concat(lit("sample text "), col("id").cast("string"),
          lit(" of the shard corpus")).as("text"))
      val inHash = input.select(xxhash64(col("name"), col("text")).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0)
      val tarSecs = (1 to runs).map { r =>
        // run OUTPUT, not corpus — keep it out of the content-keyed dir
        val out = new java.io.File(root, s"scratch_shards_${label}_$r")
        timed {
          Tar.writeShards(input.repartition(32, col("name")),
            "name", "text", out.getAbsolutePath)
          val back = Tar.scanTar(spark.read.format("binaryFile")
            .load(out.getAbsolutePath + "/*.tar")).toDF()
          val row = back
            .select(xxhash64(col("entry_name"), col("text")).as("h"))
            .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("hx")).head()
          require(row.getLong(0) == nSamples,
            s"tar $label: ${row.getLong(0)} != $nSamples members")
          require(row.getLong(1) == inHash,
            s"tar $label: round-trip hash mismatch")
        }
      }
      report("tar_roundtrip", label, nSamples, plainBytes, tarSecs)

      // tar PAX shape (r17): the same samples under >100-char paths
      // that ONLY a PAX 'x' path override can carry (the Python-tarfile
      // default format) — one extended header per member, so this row
      // prices the PAX record parse + the doubled member-header walk
      // against the plain tar_roundtrip row above. The oracle is the
      // same exact-frame hash, keyed by the LONG name: a reader that
      // drops or misapplies an override cannot hand the frame back.
      val paxPrefix = "pax/deep/nested/shard/directory/tree/that/" +
        "overflows/the/hundred/byte/name/field/padding/longer/"
      val inputPax = input.select(
        concat(lit(paxPrefix), col("name")).as("name"), col("text"))
      val inPaxHash = inputPax
        .select(xxhash64(col("name"), col("text")).as("h"))
        .agg(expr("bit_xor(h)")).head().getLong(0)
      val paxSecs = (1 to runs).map { r =>
        val out = new java.io.File(root, s"scratch_pax_${label}_$r")
        timed {
          out.mkdirs()
          inputPax.repartition(32, col("name"))
            .foreachPartition {
              (rows: Iterator[org.apache.spark.sql.Row]) =>
              val members = rows.flatMap { row =>
                val n = row.getString(0); val t = row.getString(1)
                require(n.length > 100, s"pax row: name fits ustar: $n")
                Seq(
                  (s"PaxHeaders.0/${n.takeRight(80)}", 'x',
                    Tar.paxRecord("path", n)),
                  (n.take(100), '0',
                    t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
              }.toSeq
              if (members.nonEmpty) {
                val pid = org.apache.spark.TaskContext.getPartitionId()
                java.nio.file.Files.write(
                  new java.io.File(out, f"part_$pid%05d.tar").toPath,
                  Tar.tarBytesTyped(members))
                ()
              }
            }
          val back = Tar.scanTar(spark.read.format("binaryFile")
            .load(out.getAbsolutePath + "/*.tar")).toDF()
          val row = back
            .select(xxhash64(col("entry_name"), col("text")).as("h"))
            .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("hx")).head()
          require(row.getLong(0) == nSamples,
            s"tar pax $label: ${row.getLong(0)} != $nSamples members")
          require(row.getLong(1) == inPaxHash,
            s"tar pax $label: round-trip hash mismatch")
        }
      }
      report("tar_pax_roundtrip", label, nSamples, plainBytes, paxSecs)
    }
    spark.stop()
  }
}
