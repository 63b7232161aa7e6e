package graft

import graft.ops._

/** The MP3 side-info census (see [[graft.ops.Mp3Pcm]]) against the
  * fixture that PACKS real Layer III streams bit by bit: every side-info
  * field the parse reads back must equal the content script the encoder
  * wrote, across every file class (window ladder, short blocks, scfsi
  * reuse, table-0 regions, bit reservoir). */
class Mp3PcmSpec extends SparkSpec {

  /** The side-info fields the content script fixes, per frame-granule:
    * (frame, granule, mdb, scfsi mask, big_values, global_gain, sfc, ws,
    * block_type, region0, region1, preflag, sf_scale, count1_table).
    * part2_3_length is the encoder's measured bit count, so it is only
    * checked for being positive. */
  private def expectedSide(i: Int): Seq[Seq[Int]] = {
    val mask = Mp3PcmFixture.scfsiOf(i).foldLeft(0)((m, b) => (m << 1) | b)
    for (f <- 0 until Mp3PcmFixture.framesOf(i);
         (sc, g) <- Mp3PcmFixture.frameScripts(i, f).toSeq.zipWithIndex)
    yield {
      val mdb = if (i % 5 == 4 && f >= 1) 7 else 0
      val long = sc.bt == 0
      Seq(f, g, mdb, mask, sc.bigEnd / 2, sc.gg, sc.sfc,
        if (long) 0 else 1, sc.bt, if (long) sc.r0c else 0,
        if (long) sc.r1c else 0, sc.pre, sc.ss, 1)
    }
  }

  private def fields(r: Mp3SideRow): Seq[Int] =
    Seq(r.frame_idx, r.granule, r.mdb, r.scfsi_mask, r.big_values,
      r.global_gain, r.sfc, r.ws, r.block_type, r.region0, r.region1,
      r.preflag, r.sf_scale, r.count1_table)

  test("the class-4 reservoir really runs: frames after the first carry " +
      "main_data_begin = 7 and still decode exactly") {
    val i = 4
    assert(i % 5 === 4)
    val bytes = Mp3PcmFixture.mp3Bytes(i)
    // frame 1 starts after frame 0's length
    val len0 = Mp3.frameLen(Mp3.kbpsTable(Mp3PcmFixture.brIdxOf(i, 0)),
      Mp3.srTable(Mp3PcmFixture.srIdxOf(i)), Mp3PcmFixture.padOf(i, 0))
    val (mdb0, _, _) = Mp3Pcm.parseSideInfo(bytes, 4, "r.mp3")
    val (mdb1, scfsi, _) = Mp3Pcm.parseSideInfo(bytes, len0 + 4, "r.mp3")
    assert(mdb0 === 0)
    assert(mdb1 === 7, "the reservoir delta must appear in the side info")
    assert(scfsi.toSeq === Seq(1, 0, 1, 0), "class 4 pins scfsi reuse")
    // every frame's side info reads back exactly as scripted
    val rows = Mp3Pcm.sideRows("r.mp3", bytes)
    assert(rows.map(fields) === expectedSide(i))
    assert(rows.forall(_.part23 > 0))
  }

  test("Huffman registry integrity: table 1 is a complete prefix code; " +
      "count1 table B round-trips every signed quadruple") {
    // Kraft equality and pairwise prefix-freeness
    val codes = Mp3Huff.table1.map(_._2)
    assert(codes.map { case (l, _) => math.pow(2.0, -l) }.sum === 1.0)
    for (a <- codes; b <- codes if a != b) {
      val ((la, ca), (lb, cb)) = (a, b)
      if (la <= lb)
        assert((cb >> (lb - la)) != ca, s"$a prefixes $b")
    }
    // every (v,w,x,y) in {-1,0,1}^4 survives pack -> parse: 4 bits of
    // one's-complemented magnitudes, then one sign bit per nonzero value
    for (v <- -1 to 1; x <- -1 to 1; y <- -1 to 1; z <- -1 to 1) {
      val w = new Mp3BitWriter
      Mp3Huff.encodeQuadB(w, math.abs(v), math.abs(x), math.abs(y),
        math.abs(z))
      Seq(v, x, y, z).foreach(t => if (t != 0) w.put(if (t < 0) 1 else 0, 1))
      val r = new Mp3BitReader(w.toBytes, "quad")
      val n = ~r.bits(4) & 0xF
      val signed = Seq(n >> 3, n >> 2, n >> 1, n).map(_ & 1).map { m =>
        if (m != 0 && r.bits(1) == 1) -m else m
      }
      assert(signed === Seq(v, x, y, z))
    }
  }

  test("refusals are loud: stereo, unregistered Huffman tables, mixed " +
      "blocks, truncated tails") {
    val good = Mp3PcmFixture.mp3Bytes(0)
    val stereo = good.clone()
    stereo(3) = 0x44.toByte // mode = joint stereo
    val e1 = intercept[IllegalArgumentException] {
      Mp3Pcm.sideRows("s.mp3", stereo)
    }
    assert(e1.getMessage.contains("single_channel"))

    val e2 = intercept[IllegalArgumentException] {
      Mp3Huff.encodePair(new Mp3BitWriter, 16, 0, 0)
    }
    assert(e2.getMessage.contains("table 16"))

    // hand-built side info with window_switching + mixed_block_flag
    val w = new Mp3BitWriter
    w.put(0, 9); w.put(0, 5); (0 until 4).foreach(_ => w.put(0, 1))
    for (_ <- 0 until 2) {
      w.put(100, 12); w.put(0, 9); w.put(210, 8); w.put(0, 4)
      w.put(1, 1) // window_switching
      w.put(2, 2); w.put(1, 1) // block_type 2, MIXED
      w.put(1, 5); w.put(1, 5)
      (0 until 3).foreach(_ => w.put(0, 3))
      w.put(0, 1); w.put(0, 1); w.put(1, 1)
    }
    val e3 = intercept[IllegalArgumentException] {
      Mp3Pcm.parseSideInfo(w.toBytes, 0, "m.mp3")
    }
    assert(e3.getMessage.contains("mixed"))

    val e4 = intercept[IllegalArgumentException] {
      Mp3Pcm.sideRows("t.mp3", good.take(good.length - 5))
    }
    assert(e4.getMessage.contains("overran") ||
      e4.getMessage.contains("truncated"))
  }

  test("sideInfoOf reads the on-disk corpus through binaryFile and " +
      "matches the per-file scripts") {
    val dir = Mp3PcmFixture.ensure()
    val rows = Mp3Pcm.sideInfoOf(
        spark.read.format("binaryFile").load(dir + "/*.mp3"))
      .collect().groupBy(_.file_name)
    assert(rows.size === Mp3PcmFixture.count)
    for (i <- 0 until Mp3PcmFixture.count) {
      val got = rows(f"pcm_$i%03d.mp3").toSeq
        .sortBy(r => (r.frame_idx, r.granule))
      assert(got.map(fields) === expectedSide(i), s"file $i")
    }
  }
}
