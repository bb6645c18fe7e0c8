package graft.ingest

import scala.collection.mutable

/** CCITT Group 4 (ITU-T T.6) two-dimensional bilevel codec — the
  * `/CCITTFaxDecode` (K < 0) filter scanned-document PDFs carry. Written
  * from the public standard: modified-READ coding with Pass / Horizontal /
  * Vertical(±3) modes against the reference line, horizontal runs in T.4
  * modified-Huffman white/black code tables (terminating 0–63, make-up to
  * 1728, shared extended make-up to 2560).
  *
  * Both directions are provided: [[decode]] for ingestion, [[encode]] for
  * fixtures (and as the spec cross-check — the ParserSpec round-trip plus a
  * prefix-free/table-completeness audit pins the tables; a table typo that
  * survived BOTH a round-trip and the prefix audit would have to be two
  * mutually-cancelling errors in the same entry).
  *
  * Subset honesty: pure G4 only — no EOL/RTC (T.6 has none), no
  * EncodedByteAlign (caller refuses it), uncompressed-mode extension
  * (0000001111…) refused. Rows decode to exactly `cols` pixels or the whole
  * stream refuses (emit-nothing posture, same as every other parser here).
  */
object CcittG4 {

  // ---- T.4 modified-Huffman run tables: (code, bits, runLength) ----
  // code is the bit pattern MSB-first in `bits` bits.

  private val WhiteCodes: Array[(Int, Int, Int)] = Array(
    (0x35, 8, 0), (0x07, 6, 1), (0x07, 4, 2), (0x08, 4, 3),
    (0x0B, 4, 4), (0x0C, 4, 5), (0x0E, 4, 6), (0x0F, 4, 7),
    (0x13, 5, 8), (0x14, 5, 9), (0x07, 5, 10), (0x08, 5, 11),
    (0x08, 6, 12), (0x03, 6, 13), (0x34, 6, 14), (0x35, 6, 15),
    (0x2A, 6, 16), (0x2B, 6, 17), (0x27, 7, 18), (0x0C, 7, 19),
    (0x08, 7, 20), (0x17, 7, 21), (0x03, 7, 22), (0x04, 7, 23),
    (0x28, 7, 24), (0x2B, 7, 25), (0x13, 7, 26), (0x24, 7, 27),
    (0x18, 7, 28), (0x02, 8, 29), (0x03, 8, 30), (0x1A, 8, 31),
    (0x1B, 8, 32), (0x12, 8, 33), (0x13, 8, 34), (0x14, 8, 35),
    (0x15, 8, 36), (0x16, 8, 37), (0x17, 8, 38), (0x28, 8, 39),
    (0x29, 8, 40), (0x2A, 8, 41), (0x2B, 8, 42), (0x2C, 8, 43),
    (0x2D, 8, 44), (0x04, 8, 45), (0x05, 8, 46), (0x0A, 8, 47),
    (0x0B, 8, 48), (0x52, 8, 49), (0x53, 8, 50), (0x54, 8, 51),
    (0x55, 8, 52), (0x24, 8, 53), (0x25, 8, 54), (0x58, 8, 55),
    (0x59, 8, 56), (0x5A, 8, 57), (0x5B, 8, 58), (0x4A, 8, 59),
    (0x4B, 8, 60), (0x32, 8, 61), (0x33, 8, 62), (0x34, 8, 63),
    // make-up
    (0x1B, 5, 64), (0x12, 5, 128), (0x17, 6, 192), (0x37, 7, 256),
    (0x36, 8, 320), (0x37, 8, 384), (0x64, 8, 448), (0x65, 8, 512),
    (0x68, 8, 576), (0x67, 8, 640), (0xCC, 9, 704), (0xCD, 9, 768),
    (0xD2, 9, 832), (0xD3, 9, 896), (0xD4, 9, 960), (0xD5, 9, 1024),
    (0xD6, 9, 1088), (0xD7, 9, 1152), (0xD8, 9, 1216), (0xD9, 9, 1280),
    (0xDA, 9, 1344), (0xDB, 9, 1408), (0x98, 9, 1472), (0x99, 9, 1536),
    (0x9A, 9, 1600), (0x18, 6, 1664), (0x9B, 9, 1728))

  private val BlackCodes: Array[(Int, Int, Int)] = Array(
    (0x37, 10, 0), (0x02, 3, 1), (0x03, 2, 2), (0x02, 2, 3),
    (0x03, 3, 4), (0x03, 4, 5), (0x02, 4, 6), (0x03, 5, 7),
    (0x05, 6, 8), (0x04, 6, 9), (0x04, 7, 10), (0x05, 7, 11),
    (0x07, 7, 12), (0x04, 8, 13), (0x07, 8, 14), (0x18, 9, 15),
    (0x17, 10, 16), (0x18, 10, 17), (0x08, 10, 18), (0x67, 11, 19),
    (0x68, 11, 20), (0x6C, 11, 21), (0x37, 11, 22), (0x28, 11, 23),
    (0x17, 11, 24), (0x18, 11, 25), (0xCA, 12, 26), (0xCB, 12, 27),
    (0xCC, 12, 28), (0xCD, 12, 29), (0x68, 12, 30), (0x69, 12, 31),
    (0x6A, 12, 32), (0x6B, 12, 33), (0xD2, 12, 34), (0xD3, 12, 35),
    (0xD4, 12, 36), (0xD5, 12, 37), (0xD6, 12, 38), (0xD7, 12, 39),
    (0x6C, 12, 40), (0x6D, 12, 41), (0xDA, 12, 42), (0xDB, 12, 43),
    (0x54, 12, 44), (0x55, 12, 45), (0x56, 12, 46), (0x57, 12, 47),
    (0x64, 12, 48), (0x65, 12, 49), (0x52, 12, 50), (0x53, 12, 51),
    (0x24, 12, 52), (0x37, 12, 53), (0x38, 12, 54), (0x27, 12, 55),
    (0x28, 12, 56), (0x58, 12, 57), (0x59, 12, 58), (0x2B, 12, 59),
    (0x2C, 12, 60), (0x5A, 12, 61), (0x66, 12, 62), (0x67, 12, 63),
    // make-up
    (0x0F, 10, 64), (0xC8, 12, 128), (0xC9, 12, 192), (0x5B, 12, 256),
    (0x33, 12, 320), (0x34, 12, 384), (0x35, 12, 448), (0x6C, 13, 512),
    (0x6D, 13, 576), (0x4A, 13, 640), (0x4B, 13, 704), (0x4C, 13, 768),
    (0x4D, 13, 832), (0x72, 13, 896), (0x73, 13, 960), (0x74, 13, 1024),
    (0x75, 13, 1088), (0x76, 13, 1152), (0x77, 13, 1216), (0x52, 13, 1280),
    (0x53, 13, 1344), (0x54, 13, 1408), (0x55, 13, 1472), (0x5A, 13, 1536),
    (0x5B, 13, 1600), (0x64, 13, 1664), (0x65, 13, 1728))

  /** extended make-up, shared by both colors (T.4 §4.2.1.3) */
  private val SharedMakeup: Array[(Int, Int, Int)] = Array(
    (0x08, 11, 1792), (0x0C, 11, 1856), (0x0D, 11, 1920),
    (0x12, 12, 1984), (0x13, 12, 2048), (0x14, 12, 2112),
    (0x15, 12, 2176), (0x16, 12, 2240), (0x17, 12, 2304),
    (0x1C, 12, 2368), (0x1D, 12, 2432), (0x1E, 12, 2496),
    (0x1F, 12, 2560))

  private[graft] def whiteTable: Array[(Int, Int, Int)] = WhiteCodes ++ SharedMakeup
  private[graft] def blackTable: Array[(Int, Int, Int)] = BlackCodes ++ SharedMakeup

  // ---- decode-side lookup: (bits, len) → run, via a map keyed by
  // (len << 16) | code. Max code length 13 (+ mode codes ≤ 7). ----

  private def toMap(t: Array[(Int, Int, Int)]): Map[Int, Int] =
    t.map { case (c, l, r) => ((l << 16) | c) -> r }.toMap
  private val WhiteMap = toMap(whiteTable)
  private val BlackMap = toMap(blackTable)

  private final class BitReader(data: Array[Byte]) {
    var pos = 0 // bit position
    def peek(n: Int): Int = { // zero-padded past the end (final fill bits)
      var v = 0; var i = 0
      while (i < n) {
        val bp = pos + i
        val bit =
          if (bp < data.length * 8) (data(bp >> 3) >> (7 - (bp & 7))) & 1
          else 0
        v = (v << 1) | bit
        i += 1
      }
      v
    }
    def skip(n: Int): Unit = pos += n
  }

  /** one MH run of `white` color; None on an invalid code. Make-up codes
    * chain (make-up + terminating, possibly several extended make-ups for
    * runs > 2560 per T.4). */
  private def readRun(in: BitReader, white: Boolean): Option[Int] = {
    val m = if (white) WhiteMap else BlackMap
    var total = 0
    var terminated = false
    var guard = 0
    while (!terminated) {
      guard += 1
      if (guard > 64) return None // no plausible run needs 64 code words
      var len = 1
      var run = -1
      while (run < 0 && len <= 13) {
        m.get((len << 16) | in.peek(len)) match {
          case Some(r) => run = r; in.skip(len)
          case None    => len += 1
        }
      }
      if (run < 0) return None
      total += run
      // terminating codes are 0..63; make-ups are multiples of 64 ≥ 64
      if (run < 64) terminated = true
    }
    Some(total)
  }

  /** decode `rows`×`cols` G4 data; Some(bits) row-major, true = black */
  def decode(data: Array[Byte], cols: Int, rows: Int): Option[Array[Boolean]] = {
    if (cols <= 0 || rows <= 0) return None
    val out = new Array[Boolean](cols * rows)
    val in = new BitReader(data)
    // reference/current lines as changing-element positions; parity i even →
    // white→black transition (lines start white by definition)
    var ref: Array[Int] = Array(cols, cols) // imaginary all-white line
    val cur = mutable.ArrayBuffer.empty[Int]
    var row = 0
    while (row < rows) {
      cur.clear()
      var a0 = -1
      var white = true
      while (a0 < cols) {
        // b1: first changing element of ref > a0 with opposite color to a0
        // (even index = white→black). A transition AT a0 doesn't count.
        var bi = 0
        while (bi < ref.length && (ref(bi) <= a0 || ((bi & 1) == 0) != white))
          bi += 1
        val b1 = if (bi < ref.length) ref(bi) else cols
        val b2 = if (bi + 1 < ref.length) ref(bi + 1) else cols
        // mode code
        if (in.peek(1) == 1) { // V0
          in.skip(1)
          if (!emitRun(out, row, cols, math.max(a0, 0), b1, white)) return None
          if (b1 <= cols) cur += b1
          a0 = b1; white = !white
        } else if (in.peek(3) == 1) { // 001: horizontal
          in.skip(3)
          val r1 = readRun(in, white).getOrElse(return None)
          val r2 = readRun(in, !white).getOrElse(return None)
          val s = math.max(a0, 0)
          if (!emitRun(out, row, cols, s, s + r1, white)) return None
          if (!emitRun(out, row, cols, s + r1, s + r1 + r2, !white)) return None
          if (s + r1 <= cols) cur += s + r1
          if (s + r1 + r2 <= cols) cur += s + r1 + r2
          a0 = s + r1 + r2 // color unchanged
        } else if (in.peek(4) == 1) { // 0001: pass
          in.skip(4)
          if (!emitRun(out, row, cols, math.max(a0, 0), b2, white)) return None
          a0 = b2 // color unchanged, no changing element recorded
        } else if (in.peek(3) == 3) { // 011: VR1
          in.skip(3); val a1 = b1 + 1
          if (!vertical(out, cur, row, cols, a0, a1, white)) return None
          a0 = a1; white = !white
        } else if (in.peek(3) == 2) { // 010: VL1
          in.skip(3); val a1 = b1 - 1
          if (!vertical(out, cur, row, cols, a0, a1, white)) return None
          a0 = a1; white = !white
        } else if (in.peek(6) == 3) { // 000011: VR2
          in.skip(6); val a1 = b1 + 2
          if (!vertical(out, cur, row, cols, a0, a1, white)) return None
          a0 = a1; white = !white
        } else if (in.peek(6) == 2) { // 000010: VL2
          in.skip(6); val a1 = b1 - 2
          if (!vertical(out, cur, row, cols, a0, a1, white)) return None
          a0 = a1; white = !white
        } else if (in.peek(7) == 3) { // 0000011: VR3
          in.skip(7); val a1 = b1 + 3
          if (!vertical(out, cur, row, cols, a0, a1, white)) return None
          a0 = a1; white = !white
        } else if (in.peek(7) == 2) { // 0000010: VL3
          in.skip(7); val a1 = b1 - 3
          if (!vertical(out, cur, row, cols, a0, a1, white)) return None
          a0 = a1; white = !white
        } else return None // EOFB / extensions / garbage
      }
      // the decoded row must land exactly on cols (emitRun/vertical bound
      // every run at cols, so overshoot cannot happen silently)
      if (a0 != cols) return None
      // normalize: transitions strictly increasing, ≤ cols; pad with cols
      val t = cur.filter(_ <= cols)
      ref = (t ++ Seq(cols, cols)).toArray
      row += 1
    }
    Some(out)
  }

  private def vertical(out: Array[Boolean], cur: mutable.ArrayBuffer[Int],
                       row: Int, cols: Int, a0: Int, a1: Int,
                       white: Boolean): Boolean = {
    if (a1 < 0 || a1 > cols) return false
    if (!emitRun(out, row, cols, math.max(a0, 0), a1, white)) return false
    cur += a1
    true
  }

  /** paint [from, until) in `row`; white runs are a no-op beyond bounds
    * checking (the plane defaults white/false) */
  private def emitRun(out: Array[Boolean], row: Int, cols: Int,
                      from: Int, until: Int, white: Boolean): Boolean = {
    if (until < from || until > cols) return false
    if (!white) {
      var x = from
      while (x < until) { out(row * cols + x) = true; x += 1 }
    }
    true
  }

  // -------------------------------------------------------------- encode --

  private final class BitWriter {
    private val buf = mutable.ArrayBuffer.empty[Byte]
    private var acc = 0
    private var nb = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >> i) & 1)
        nb += 1
        if (nb == 8) { buf += acc.toByte; acc = 0; nb = 0 }
        i -= 1
      }
    }
    def bytes: Array[Byte] = {
      if (nb > 0) { buf += (acc << (8 - nb)).toByte; acc = 0; nb = 0 }
      buf.toArray
    }
  }

  private val WhiteEnc: Map[Int, (Int, Int)] =
    whiteTable.map { case (c, l, r) => r -> (c, l) }.toMap
  private val BlackEnc: Map[Int, (Int, Int)] =
    blackTable.map { case (c, l, r) => r -> (c, l) }.toMap

  private def putRun(w: BitWriter, run0: Int, white: Boolean): Unit = {
    val enc = if (white) WhiteEnc else BlackEnc
    var run = run0
    while (run > 2560 + 63) { val (c, l) = enc(2560); w.put(c, l); run -= 2560 }
    if (run >= 64) {
      val mk = (run / 64) * 64
      val (c, l) = enc(mk); w.put(c, l); run -= mk
    }
    val (c, l) = enc(run); w.put(c, l)
  }

  /** encode a row-major bilevel plane (true = black) as pure G4, no EOFB —
    * the PDF-embedded shape (/Rows bounds the decode) */
  def encode(bits: Array[Boolean], cols: Int, rows: Int): Array[Byte] = {
    require(bits.length == cols * rows, "plane shape mismatch")
    val w = new BitWriter
    def transitions(row: Int): Array[Int] = {
      if (row < 0) return Array(cols, cols)
      val t = mutable.ArrayBuffer.empty[Int]
      var prev = false
      var x = 0
      while (x < cols) {
        val b = bits(row * cols + x)
        if (b != prev) { t += x; prev = b }
        x += 1
      }
      t += cols; t += cols
      t.toArray
    }
    var row = 0
    while (row < rows) {
      val ref = transitions(row - 1)
      val curT = transitions(row)
      var a0 = -1
      var white = true
      var ci = 0 // index of a1 in curT
      while (a0 < cols) {
        val a1 = if (ci < curT.length) curT(ci) else cols
        var bi = 0
        while (bi < ref.length && (ref(bi) <= a0 || ((bi & 1) == 0) != white))
          bi += 1
        val b1 = if (bi < ref.length) ref(bi) else cols
        val b2 = if (bi + 1 < ref.length) ref(bi + 1) else cols
        if (b2 < a1) { // pass
          w.put(1, 4)
          a0 = b2
        } else if (math.abs(a1 - b1) <= 3) { // vertical
          (a1 - b1) match {
            case 0  => w.put(1, 1)
            case 1  => w.put(3, 3)
            case -1 => w.put(2, 3)
            case 2  => w.put(3, 6)
            case -2 => w.put(2, 6)
            case 3  => w.put(3, 7)
            case -3 => w.put(2, 7)
          }
          a0 = a1; white = !white; ci += 1
        } else { // horizontal
          val a2 = if (ci + 1 < curT.length) curT(ci + 1) else cols
          w.put(1, 3)
          val s = math.max(a0, 0)
          putRun(w, a1 - s, white)
          putRun(w, a2 - a1, !white)
          a0 = a2; ci += 2
        }
      }
      row += 1
    }
    w.bytes
  }
}
