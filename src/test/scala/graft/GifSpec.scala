package graft

import graft.ops.{Gif, GifFixture}

class GifSpec extends SparkSpec {

  /** Packed 0xRRGGBB of a decoded frame's pixel through its palette —
    * what `ImageIO`'s reader hands back for the same frame. */
  private def rgbOf(fr: Gif.Frame, x: Int, y: Int): Int = {
    val i3 = 3 * fr.indices(y * fr.w + x)
    ((fr.palette(i3) & 0xff) << 16) | ((fr.palette(i3 + 1) & 0xff) << 8) |
      (fr.palette(i3 + 2) & 0xff)
  }

  test("census matches the JDK-written fixture structure") {
    for (i <- 0 until GifFixture.count) {
      val (m, frames) = Gif.parse(f"img_$i%03d.gif", GifFixture.gifBytes(i))
      assert(m.width === GifFixture.widthOf(i))
      assert(m.height === GifFixture.heightOf(i))
      assert(m.n_frames === 1 && frames.length === 1)
      assert(m.interlaced_frames ===
        (if (GifFixture.interlacedOf(i)) 1 else 0), s"i=$i")
      assert(m.version === "89a" || m.version === "87a")
      assert(m.total_bytes === GifFixture.gifBytes(i).length.toLong)
    }
  }

  test("frame-0 pixel decode inverts the JDK's own GIF-LZW encoder at " +
      "exact equality, interlaced files included") {
    for (i <- 0 until GifFixture.count) {
      val bytes = GifFixture.gifBytes(i)
      val ref = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      val fr = Gif.parse(s"img_$i.gif", bytes)._2.head
      assert(fr.w === ref.getWidth && fr.h === ref.getHeight, s"i=$i")
      for (x <- 0 until fr.w; y <- 0 until fr.h)
        assert(rgbOf(fr, x, y) === (ref.getRGB(x, y) & 0xffffff),
          s"i=$i ($x,$y) interlaced=${GifFixture.interlacedOf(i)}")
    }
  }

  test("multi-frame sequences: every frame decodes to the JDK reader's " +
      "pixels") {
    for (i <- 0 until GifFixture.animCount) {
      val bytes = GifFixture.gifAnimBytes(i)
      val (m, frames) = Gif.parse(s"seq_$i.gif", bytes)
      assert(m.n_frames === 3 && frames.length === 3)
      val rd = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
        .next()
      rd.setInput(javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      for ((fr, f) <- frames.zipWithIndex) {
        val ref = rd.read(f)
        assert(fr.w === ref.getWidth && fr.h === ref.getHeight,
          s"i=$i f=$f")
        for (x <- 0 until fr.w; y <- 0 until fr.h)
          assert(rgbOf(fr, x, y) === (ref.getRGB(x, y) & 0xffffff),
            s"i=$i f=$f ($x,$y)")
      }
      rd.dispose()
    }
  }

  test("malformed GIFs refuse loudly") {
    val good = GifFixture.gifBytes(0)
    // corrupted signature
    val sig = good.clone(); sig(0) = 'X'
    val e1 = intercept[IllegalArgumentException] {
      Gif.parse("s.gif", sig)
    }
    assert(e1.getMessage.contains("signature"))
    // truncated mid-stream
    val e2 = intercept[RuntimeException] {
      Gif.parse("t.gif", good.take(good.length - 10))
    }
    assert(e2.getMessage.nonEmpty)
    // trailing bytes after the trailer
    val e3 = intercept[IllegalArgumentException] {
      Gif.parse("g.gif", good ++ Array[Byte](1, 2, 3))
    }
    assert(e3.getMessage.contains("trailing"))
    // the trailer byte replaced by an unknown introducer
    val unk = good.clone(); unk(unk.length - 1) = 0x19
    val e4 = intercept[RuntimeException] {
      Gif.parse("u.gif", unk)
    }
    assert(e4.getMessage.contains("unknown block introducer") ||
      e4.getMessage.contains("no trailer"))
  }

  test("scanGif reads the on-disk fixture through binaryFile") {
    val dir = GifFixture.ensure()
    val got = Gif.scanGif(
        spark.read.format("binaryFile").load(dir + "/*.gif"))
      .collect().map(m => m.file_name -> m).toMap
    assert(got.size === GifFixture.count + GifFixture.animCount)
    for (i <- 0 until GifFixture.animCount)
      assert(got(f"seq_$i%03d.gif").n_frames === 3)
  }
}
