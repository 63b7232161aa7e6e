package graft

import graft.ops.{Jpeg, JpegFixture}

/** The JPEG header census against two independent references: the
  * fixture formulas, and the JDK's own reader (`javax.imageio`), whose
  * native metadata tree reports the frame header (geometry, components,
  * sampling factors, SOF process) of the same bytes. */
class JpegSpec extends SparkSpec {

  test("marker walk matches the fixture formulas (all files)") {
    for (i <- 0 until JpegFixture.count) {
      val m = Jpeg.parseMeta(f"img_$i%03d.jpg", JpegFixture.jpegBytes(i))
      assert(m.width === JpegFixture.widthOf(i))
      assert(m.height === JpegFixture.heightOf(i))
      assert(m.progressive === JpegFixture.isProgressive(i))
      if (JpegFixture.isProgressive(i)) {
        // SOF2 streams: the census reads the frame header; the DQT/DHT
        // walk still counts only the pre-first-SOS segments, and the
        // multi-scan structure shows up as n_scans > 1
        assert(m.n_components === (if (JpegFixture.isGray(i)) 1 else 3))
        assert(m.n_scans > 1, s"file $i: progressive with one scan?")
      } else {
        assert(m.n_scans === 1)
        if (JpegFixture.isGray(i)) {
          assert(m.n_components === 1 && m.samp === "1x1")
          assert(m.n_dqt === 1 && m.n_dht === 2)
        } else {
          assert(m.n_components === 3 && m.samp === "2x2,1x1,1x1")
          assert(m.n_dqt === 2 && m.n_dht === 4)
        }
      }
      assert(m.entropy_bytes > 0 && m.dqt_luma_sum > 0)
      assert(census(m) === jdkCensus(JpegFixture.jpegBytes(i)), s"file $i")
    }
    // quality is monotone in the quant table: same layout, higher q ->
    // smaller quantizers -> smaller table sum (i=1 q=0.60 vs i=7 q=0.90,
    // both color)
    val lo = Jpeg.parseMeta("lo.jpg", JpegFixture.jpegBytes(1))
    val hi = Jpeg.parseMeta("hi.jpg", JpegFixture.jpegBytes(7))
    assert(hi.dqt_luma_sum < lo.dqt_luma_sum)
  }

  test("progressive JPEG: census reads it, truncated input refuses") {
    import java.awt.image.BufferedImage
    val img = new BufferedImage(24, 16, BufferedImage.TYPE_3BYTE_BGR)
    for (x <- 0 until 24; y <- 0 until 16)
      img.setRGB(x, y, JpegFixture.rgbOf(0, x, y))
    val prog = jdkEncode(img, progressive = true)
    val m = Jpeg.parseMeta("prog.jpg", prog)
    assert(m.progressive && m.width === 24 && m.height === 16)
    assert(m.n_scans > 1, "a JDK progressive stream has multiple scans")
    assert(census(m) === jdkCensus(prog))
    val trunc = JpegFixture.jpegBytes(0).take(40)
    val e3 = intercept[IllegalArgumentException] {
      Jpeg.parseMeta("t.jpg", trunc)
    }
    assert(e3.getMessage.contains("truncated") ||
      e3.getMessage.contains("invalid length"))
  }

  test("parseMeta handles the general format the JDK never emits: " +
      "multi-table segments, 16-bit quant precision, last-wins replace") {
    // hand-built marker stream (header census only — no entropy decode):
    // SOI, DQT[16-bit tq=0], DQT[8-bit tq=1 + 8-bit tq=0 in ONE segment],
    // SOF0, DHT[dc0 + ac0 in ONE segment], SOS, 1 entropy byte, EOI.
    // The SECOND tq=0 table must win (T.81 replace rule), so
    // dqt_luma_sum is the 8-bit table's sum, not the 16-bit one's.
    val bo = new java.io.ByteArrayOutputStream()
    def seg(mk: Int, payload: Array[Int]): Unit = {
      bo.write(0xFF); bo.write(mk)
      bo.write((payload.length + 2) >> 8); bo.write((payload.length + 2) & 0xff)
      payload.foreach(bo.write)
    }
    bo.write(0xFF); bo.write(0xD8)
    // 16-bit tq=0: value i at entry i as (0, i) big-endian -> sum 2016
    seg(0xDB, Array(0x10) ++ (0 until 64).flatMap(i => Seq(0, i)))
    // one segment, TWO 8-bit tables: tq=1 (all 7s), then tq=0 (all 2s)
    seg(0xDB, (Array(0x01) ++ Array.fill(64)(7)) ++
      (Array(0x00) ++ Array.fill(64)(2)))
    // SOF0: 8-bit, 9x17, 1 component (id 1, 1x1, tq 0)
    seg(0xC0, Array(8, 0, 9, 0, 17, 1, 1, 0x11, 0))
    // one DHT segment, TWO trivial tables (dc0, ac0): one 1-bit code each
    val oneCode = Array(1) ++ Array.fill(15)(0) ++ Array(5)
    seg(0xC4, (Array(0x00) ++ oneCode) ++ (Array(0x10) ++ oneCode))
    seg(0xDA, Array(1, 1, 0x00, 0, 63, 0))
    bo.write(0xA5) // entropy byte (never decoded by parseMeta)
    bo.write(0xFF); bo.write(0xD9)
    val m = Jpeg.parseMeta("gen.jpg", bo.toByteArray)
    assert(m.width === 17 && m.height === 9)
    assert(m.n_components === 1 && m.samp === "1x1")
    assert(m.n_dqt === 3, "16-bit table + two 8-bit tables in one segment")
    assert(m.n_dht === 2, "two Huffman tables in one segment")
    assert(m.dqt_luma_sum === 128L, "the LAST tq=0 table must win")
    assert(m.entropy_bytes === 1L)
    assert(m.n_segments === 5)
    assert(!m.progressive && m.n_scans === 1)
  }

  test("odd-dimension differential: partial MCUs, gray+color, " +
      "baseline+progressive") {
    // partial MCUs at the right/bottom edge and single-pixel frames:
    // every (dims, gray/color, baseline/progressive) cell's census must
    // equal what the JDK reader reports for the same bytes
    import java.awt.image.BufferedImage
    for ((w, h) <- Seq((1, 1), (7, 3), (8, 8), (9, 17), (31, 15),
           (33, 34));
         gray <- Seq(true, false);
         progressive <- Seq(false, true)) {
      val img = new BufferedImage(w, h,
        if (gray) BufferedImage.TYPE_BYTE_GRAY
        else BufferedImage.TYPE_3BYTE_BGR)
      for (x <- 0 until w; y <- 0 until h) {
        // deterministic texture with edges and gradients
        val v = (x * 37 + y * 91 + (x * y) % 53) % 256
        img.setRGB(x, y,
          if (gray) (v << 16) | (v << 8) | v
          else (v << 16) | (((x * 11 + y * 5) % 256) << 8) |
            ((255 - v) & 0xff))
      }
      val bytes = jdkEncode(img, progressive)
      val tag = s"${w}x$h gray=$gray prog=$progressive"
      val m = Jpeg.parseMeta(tag, bytes)
      assert(census(m) === jdkCensus(bytes), tag)
      assert((m.width, m.height, m.n_components, m.progressive) ===
        ((w, h, if (gray) 1 else 3, progressive)), tag)
    }
  }

  test("census sampling factors match the JDK reader: 4:2:2, 4:4:0, 4:1:1") {
    import java.awt.image.BufferedImage
    def paint(w: Int, h: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (x <- 0 until w; y <- 0 until h)
        img.setRGB(x, y, JpegFixture.rgbOf(1, x, y))
      img
    }
    for (((hs, vs), samp) <- Seq((2, 1) -> "2x1,1x1,1x1",
           (1, 2) -> "1x2,1x1,1x1", (4, 1) -> "4x1,1x1,1x1");
         (w, h) <- Seq((8, 8), (9, 17), (31, 15))) {
      val bytes = encodeSampled(paint(w, h), hs, vs)
      val tag = s"${w}x$h ${hs}x$vs"
      val m = Jpeg.parseMeta(tag, bytes)
      assert(m.samp === samp, s"$tag: writer emitted ${m.samp}")
      assert(census(m) === jdkCensus(bytes), tag)
    }
  }

  /** The census fields the JDK reader also reports. */
  private def census(m: graft.ops.JpegMeta) =
    (m.width, m.height, m.n_components, m.progressive, m.samp)

  /** The same fields as the JDK reader sees them: image geometry plus
    * the SOF marker of its native metadata tree (process 2 = SOF2). */
  private def jdkCensus(bytes: Array[Byte]) = {
    import org.w3c.dom.Element
    val rd = javax.imageio.ImageIO.getImageReadersByFormatName("jpg").next()
    try {
      rd.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      val tree = rd.getImageMetadata(0)
        .getAsTree("javax_imageio_jpeg_image_1.0").asInstanceOf[Element]
      val sof = tree.getElementsByTagName("sof").item(0).asInstanceOf[Element]
      val comps = sof.getElementsByTagName("componentSpec")
      val samp = (0 until comps.getLength).map { k =>
        val c = comps.item(k).asInstanceOf[Element]
        s"${c.getAttribute("HsamplingFactor")}x${c.getAttribute("VsamplingFactor")}"
      }.mkString(",")
      (rd.getWidth(0), rd.getHeight(0), comps.getLength,
        sof.getAttribute("process") == "2", samp)
    } finally rd.dispose()
  }

  /** JDK-encode at the default quality, optionally progressive. */
  private def jdkEncode(img: java.awt.image.BufferedImage,
      progressive: Boolean): Array[Byte] = {
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = wr.getDefaultWriteParam
    if (progressive)
      p.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    val bo = new java.io.ByteArrayOutputStream()
    wr.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bo))
    wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    wr.dispose()
    bo.toByteArray
  }

  /** JDK-encode with explicit luma sampling factors via the native
    * metadata tree (the writer exposes no direct subsampling knob). */
  private def encodeSampled(img: java.awt.image.BufferedImage,
      hs: Int, vs: Int): Array[Byte] = {
    val wr = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val p = wr.getDefaultWriteParam
    val typ = javax.imageio.ImageTypeSpecifier.createFromRenderedImage(img)
    val md = wr.getDefaultImageMetadata(typ, p)
    val fmt = "javax_imageio_jpeg_image_1.0"
    val tree = md.getAsTree(fmt).asInstanceOf[org.w3c.dom.Element]
    val comps = tree.getElementsByTagName("componentSpec")
    val y = comps.item(0).asInstanceOf[org.w3c.dom.Element]
    y.setAttribute("HsamplingFactor", hs.toString)
    y.setAttribute("VsamplingFactor", vs.toString)
    md.setFromTree(fmt, tree)
    val bo = new java.io.ByteArrayOutputStream()
    wr.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bo))
    wr.write(null, new javax.imageio.IIOImage(img, null, md), p)
    wr.dispose()
    bo.toByteArray
  }

  test("scanJpeg decodes the on-disk fixture through binaryFile") {
    val dir = JpegFixture.ensure()
    val got = Jpeg.scanJpeg(
        spark.read.format("binaryFile").load(dir + "/*.jpg"))
      .collect().map(m => m.file_name -> m).toMap
    assert(got.size === JpegFixture.count)
    for (i <- 0 until JpegFixture.count) {
      val m = got(f"img_$i%03d.jpg")
      assert(m.width === JpegFixture.widthOf(i) &&
        m.height === JpegFixture.heightOf(i))
    }
  }
}
