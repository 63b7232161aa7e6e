package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, element_at, split}

/** The band tables the fixture encoder needs: long-block scalefactor
  * band boundaries (ISO Table B.8 — 23 entries per samplerate, 21
  * scalefactors + the unscaled tail zone) and the scalefactor bit
  * lengths. */
object Mp3Bands {
  /** Long-block boundaries by samplerate index (44100, 48000, 32000). */
  val longB: Array[Array[Int]] = Array(
    Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110, 134,
      162, 196, 238, 288, 342, 418, 576),
    Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106, 128,
      156, 190, 230, 276, 330, 384, 576),
    Array(0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126, 156,
      194, 240, 296, 364, 448, 550, 576))

  /** scalefac_compress -> (slen1, slen2), ISO 2.4.2.7. */
  val slen: Array[(Int, Int)] = Array(
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3))
}

/** MSB-first bit reader (side-info parse). */
private[graft] final class Mp3BitReader(b: Array[Byte], val name: String) {
  private var pos = 0 // absolute bit position
  def bits(n: Int): Int = {
    var v = 0; var i = 0
    while (i < n) {
      require(pos < b.length * 8, s"$name: main data exhausted at bit $pos")
      v = (v << 1) | ((b(pos >> 3) >> (7 - (pos & 7))) & 1)
      pos += 1; i += 1
    }
    v
  }
}

/** MSB-first bit writer (side info and main-data packing). */
private[graft] final class Mp3BitWriter {
  private val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
  private var cur = 0; private var n = 0
  def put(v: Int, bits: Int): Unit = {
    var i = bits - 1
    while (i >= 0) {
      cur = (cur << 1) | ((v >> i) & 1); n += 1
      if (n == 8) { out += cur.toByte; cur = 0; n = 0 }
      i -= 1
    }
  }
  def bitLength: Int = out.length * 8 + n
  def toBytes: Array[Byte] = {
    val t = out.clone()
    if (n > 0) t += (cur << (8 - n)).toByte
    t.toArray
  }
}

/** The fixture encoder's Huffman codes: big-value table 0 (no bits,
  * zero pair), table 1 (2x2, Kraft-complete) and count1 table B (fixed
  * 4-bit one's-complement quadruples). Any other table refuses with its
  * number. */
object Mp3Huff {
  /** Table 1: (x, y) -> (hlen, hcod). */
  val table1: Vector[((Int, Int), (Int, Int))] = Vector(
    (0, 0) -> ((1, 1)), (0, 1) -> ((3, 1)),
    (1, 0) -> ((2, 1)), (1, 1) -> ((3, 0)))

  def encodePair(w: Mp3BitWriter, id: Int, x: Int, y: Int): Unit = id match {
    case 0 =>
      require(x == 0 && y == 0, s"table 0 cannot code ($x,$y)")
    case 1 =>
      val (l, c) = table1.toMap.apply((x, y))
      w.put(c, l)
    case n => throw new IllegalArgumentException(s"no encoder for table $n")
  }

  /** count1 table B: quadruple (v,w,x,y) -> 4-bit one's complement of
    * the bits v..y (v most significant). */
  def encodeQuadB(w: Mp3BitWriter, v: Int, x: Int, y: Int, z: Int): Unit =
    w.put(~((v << 3) | (x << 2) | (y << 1) | z) & 0xF, 4)
}

/** Per-granule side information the census reports (mono field set,
  * ISO 2.4.1.7); table selects and subblock gains are read past. */
final case class Mp3GranuleSide(
    part23: Int, bigValues: Int, globalGain: Int, scalefacCompress: Int,
    windowSwitching: Boolean, blockType: Int, region0Count: Int,
    region1Count: Int, preflag: Int, scalefacScale: Int, count1Table: Int)

/** Flattened side-info gate row (see [[Mp3Pcm.sideRows]]). */
final case class Mp3SideRow(file_name: String, frame_idx: Int, granule: Int,
                            mdb: Int, scfsi_mask: Int, part23: Int,
                            big_values: Int, global_gain: Int, sfc: Int,
                            ws: Int, block_type: Int, region0: Int,
                            region1: Int, preflag: Int, sf_scale: Int,
                            count1_table: Int)

/** MPEG-1 Layer III side-information census (q_mp3_sideinfo) and the
  * bit-packing encoder that builds its fixture ([[Mp3PcmFixture]]).
  * The census ([[Mp3]], q_media_mp3) counts frames; this file reads the
  * layer below it — each mono frame's 17-byte side-info block:
  * main_data_begin (the bit-reservoir offset), scfsi, and both
  * granules' part2_3_length, big_values, global_gain,
  * scalefac_compress, window switching with its block type (or the
  * region counts of a long granule), preflag, scalefac_scale and
  * count1 table. The oracle re-reads every field
  * with fixed-offset bit arithmetic over the same bytes.
  *
  * Samples are never decoded: the reference passes audio blobs through
  * as opaque payloads (reference `1/blob_paths.py`), so the engine
  * stops at the side information.
  *
  * Out of scope, refused loudly: stereo modes (the 17-byte layout is
  * the mono one), CRC-protected frames, free-format and reserved
  * header fields, mixed blocks. */
object Mp3Pcm {
  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff

  /** Parse one mono side-info block (17 bytes) into per-granule fields
    * plus (mainDataBegin, scfsi). */
  private[graft] def parseSideInfo(b: Array[Byte], off: Int, name: String)
      : (Int, Array[Int], Array[Mp3GranuleSide]) = {
    val r = new Mp3BitReader(java.util.Arrays.copyOfRange(b, off, off + 17),
      name)
    val mainDataBegin = r.bits(9)
    r.bits(5) // private_bits (mono)
    val scfsi = Array.fill(4)(r.bits(1))
    val grs = Array.tabulate(2) { _ =>
      val part23 = r.bits(12)
      val bigValues = r.bits(9)
      val globalGain = r.bits(8)
      val sfc = r.bits(4)
      val ws = r.bits(1) == 1
      val (bt, r0, r1) =
        if (ws) {
          val bt = r.bits(2)
          require(bt != 0, s"$name: window_switching with block_type 0")
          require(r.bits(1) == 0, s"$name: mixed blocks not supported (refusal)")
          r.bits(10 + 9) // table_select[0..1], subblock_gain[0..2]
          (bt, 0, 0)
        } else {
          r.bits(15) // table_select[0..2]
          val r0 = r.bits(4); val r1 = r.bits(3)
          (0, r0, r1)
        }
      val pre = r.bits(1); val ss = r.bits(1); val c1 = r.bits(1)
      Mp3GranuleSide(part23, bigValues, globalGain, sfc, ws, bt, r0, r1,
        pre, ss, c1)
    }
    (mainDataBegin, scfsi, grs)
  }

  /** One frame-granule's side information, flattened for the gate: the
    * bit-reader parse ([[parseSideInfo]]) on the engine side, a
    * fixed-offset hex bit walk on the oracle side (q_mp3_sideinfo).
    * ws granules report region0/region1 as 0 (the fields do not exist
    * in their layout). */
  def sideRows(name: String, b: Array[Byte]): Seq[Mp3SideRow] = {
    var pos = 0
    val out = scala.collection.mutable.ArrayBuffer.empty[Mp3SideRow]
    var fi = 0
    while (pos < b.length) {
      require(pos + 4 <= b.length, s"$name: truncated header at $pos")
      require(u8(b, pos) == 0xFF && u8(b, pos + 1) == 0xFB,
        s"$name: need MPEG-1 Layer III no-CRC sync at $pos")
      val brIdx = u8(b, pos + 2) >> 4
      val si = (u8(b, pos + 2) >> 2) & 3
      val pad = (u8(b, pos + 2) >> 1) & 1
      require(brIdx >= 1 && brIdx <= 14 && si <= 2, s"$name: bad header")
      require((u8(b, pos + 3) >> 6) == 3,
        s"$name: only single_channel (mono) side info parses (refusal)")
      val (mdb, scfsi, grs) = parseSideInfo(b, pos + 4, name)
      val mask = (scfsi(0) << 3) | (scfsi(1) << 2) | (scfsi(2) << 1) | scfsi(3)
      grs.zipWithIndex.foreach { case (g, gi) =>
        out += Mp3SideRow(name, fi, gi, mdb, mask, g.part23, g.bigValues,
          g.globalGain, g.scalefacCompress, if (g.windowSwitching) 1 else 0,
          g.blockType, g.region0Count, g.region1Count, g.preflag,
          g.scalefacScale, g.count1Table)
      }
      fi += 1
      pos += Mp3.frameLen(Mp3.kbpsTable(brIdx), Mp3.srTable(si), pad)
    }
    require(pos == b.length, s"$name: frame walk overran EOF")
    out.toSeq
  }

  /** binaryFile frame -> per-frame-per-granule side-info rows. */
  def sideInfoOf(df: DataFrame): Dataset[Mp3SideRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(element_at(split(col("path"), "/"), -1).as("f"), col("content"))
      .as[(String, Array[Byte])]
      .mapPartitions(_.flatMap { case (n, bytes) => sideRows(n, bytes) })
  }
}
