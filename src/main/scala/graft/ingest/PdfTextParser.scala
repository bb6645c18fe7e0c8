package graft.ingest

import java.util.zip.Inflater
import scala.collection.mutable

/** S6 — byte-level PDF text extraction, pure JVM.
  *
  * The reference parses PDFs with mupdf (`src/parser/pdf-extract.ts:79-153`)
  * into positioned text items `(page, x, y, fontSize, text)` that its filter
  * stage consumes. This is a from-scratch subset parser of the public PDF
  * spec (ISO 32000) producing the SAME item shape, so the whole existing
  * F15/F16 pipeline ([[PdfBoundaryFilter]]) runs unchanged on real PDF
  * bytes: parse → line assembly → header/footer strip → document text.
  *
  * Supported subset (the overwhelmingly common case for text documents):
  *  - classic object syntax (`N G obj … endobj`); xref is NOT required —
  *    objects are discovered by scanning, so damaged/linearized files parse
  *  - /ObjStm object streams (PDF 1.5+ — the modern-producer default that
  *    hides the catalog/page-tree/font dicts from a top-level scan) are
  *    expanded after the scan (and after decryption), children spliced in
  *    document order so last-wins keeps incremental-update semantics
  *  - page ordering via the Catalog → /Pages → /Kids tree (cycle-guarded),
  *    falling back to /Type /Page objects in byte order
  *  - /Contents as a single stream or an array of streams
  *  - FlateDecode (java.util.zip), LZWDecode (ISO 32000 §7.4.4.2,
  *    variable 9–12 bit codes, /EarlyChange), ASCIIHexDecode,
  *    ASCII85Decode, RunLengthDecode, filter CHAINS (`/Filter [...]`
  *    applied in array order with a parallel /DecodeParms array) plus
  *    unfiltered content streams, including /DecodeParms predictors (PNG
  *    row filters 10–15, TIFF 2); predictor input that is not a whole
  *    number of rows is refused, not partially decoded
  *  - text operators: BT/ET, Tf, Tm, Td, TD, TL, T*, Tj, ', ", TJ (with
  *    kerning-gap → space), literal strings (escapes, octal, nesting),
  *    hex strings, UTF-16BE (BOM) and Latin-1/PDFDoc byte decoding
  *  - /ToUnicode CMaps with 1-, 2-, 3-, or 4-byte codespaces, uniform or
  *    MIXED (bfchar + bfrange, incrementing or array form), selected per
  *    show via Tf's font operand; /Resources inherited through the /Pages
  *    chain. The 2-byte case is what CID-keyed subset-embedded fonts
  *    (most CJK and modern-toolchain PDFs) emit: show strings are 2-byte
  *    codes looked up as units, unmapped codes dropped rather than
  *    byte-garbled. The mixed case is the Shift-JIS/legacy-CJK shape:
  *    each show position is consumed at the shortest declared width whose
  *    codespace range contains it (ISO 32000 §9.7.6.3); 3/4-byte spaces
  *    are the UTF-8/UTF-32-shaped encodings of GB18030-class CMaps
  *    (4-byte bounds above 0x7FFFFFFF stay out of subset)
  *
  *  - CID-keyed fonts with NO /ToUnicode: glyph→unicode recovered by
  *    inverting the embedded TrueType font's own 'cmap' table
  *    ([[TrueTypeCmap]]; /Identity-H CIDFontType2 + /FontFile2, with
  *    /CIDToGIDMap stream or Identity) — subset fonts routinely retain
  *    'cmap', which is the same fallback mupdf leans on; for
  *    CIDFontType0C (bare CID-keyed CFF in /FontFile3), Identity-ordered
  *    name-preserving fonts decode through the CFF charset's CIDs as
  *    SIDs → glyph names → AGL ([[CffFont.cidKeyed]], ≥80% structural
  *    verification before any glyph is emitted)
  *  - simple-font /Encoding /Differences arrays: byte code → glyph name
  *    → unicode ([[GlyphNames]], AGL subset + uniXXXX) — the pdftex/
  *    LaTeX shape that re-seats ligatures, curly quotes, and accents
  *  - simple fonts naming NO base encoding: the embedded font program's
  *    BUILT-IN encoding (§9.6.6), from /FontFile3 /Type1C CFF tables
  *    ([[CffFont]]: Encoding ∘ Charset → glyph names → AGL) or a
  *    /FontFile Type1 cleartext `dup code /name put` array
  *    ([[Type1Font]]) — the dvips/dvipdfmx class
  *  - /Form XObjects (letterheads, stamps, figure text): Do recurses
  *    into the form's content with its own /Resources (fonts inherited
  *    when absent), items placed by the diag+translate part of
  *    CTM ∘ /Matrix (q/Q/cm tracked), cycle-safe via a depth guard
  *  - inline images (BI…ID…EI): binary payload skipped whole, so image
  *    bytes can never lex into spurious text operators
  *
  * Not supported (emit nothing rather than garbage): DCT/CCITT/JBIG2/JPX
  * filters, 4-byte codespaces with bounds above 0x7FFFFFFF, CID fonts
  * with a stripped 'cmap', and registry-ordered CID-CFF collections
  * (Adobe-Japan1 etc. — CID→unicode needs the collection's published
  * UCS-2 tables, not shipped here) — their glyph-id shows are consumed
  * pairwise and DROPPED (not byte-garbled). These are the cases the
  * reference delegates to mupdf's font machinery; the boundary is
  * documented in SURVEY §7.
  *
  * Scale shape: [[parseItems]] is a pure per-document function — the corpus
  * path runs it inside a `flatMap` over a `binaryFile` scan (one pass, no
  * driver involvement), then everything downstream is the existing
  * relational F15/F16 pipeline.
  */
object PdfTextParser {

  final case class Item(page: Int, x: Double, y: Double,
                        fontSize: Double, text: String)

  // ---- minimal PDF object model ----
  private[ingest] sealed trait PVal
  private[ingest] final case class PNum(v: Double) extends PVal
  private[ingest] final case class PName(v: String) extends PVal
  private[ingest] final case class PStr(bytes: Array[Byte]) extends PVal
  private[ingest] final case class PRef(num: Int) extends PVal
  private[ingest] final case class PArr(items: Vector[PVal]) extends PVal
  private[ingest] final case class PDict(m: Map[String, PVal]) extends PVal
  private[ingest] case object PNullV extends PVal

  private[ingest] final case class PdfObj(num: Int, dict: Option[PDict],
                                  stream: Option[Array[Byte]], gen: Int = 0)

  /** document title from the Info dictionary's /Title (F11 "metadata"
    * provenance). The Info dict is found structurally — a /Title string in a
    * dict that is neither an outline item (/Parent) nor a typed object
    * (/Type) — because this parser does not require the trailer. */
  def docTitle(bytes: Array[Byte]): Option[String] =
    try loadObjects(bytes).iterator
      .flatMap(_.dict)
      .filter(d => !d.m.contains("Parent") && !d.m.contains("Type"))
      .collectFirst { case d if d.m.get("Title").exists(_.isInstanceOf[PStr]) =>
        decodeText(d.m("Title").asInstanceOf[PStr].bytes).trim }
      .filter(_.nonEmpty)
    catch { case scala.util.control.NonFatal(_) => None }

  /** entry point: all positioned text items of a PDF, in page order */
  def parseItems(bytes: Array[Byte]): Seq[Item] =
    try {
      val objs = loadObjects(bytes)
      val byNum = objs.map(o => o.num -> o).toMap
      val pages = orderedPages(objs, byNum)
      pages.zipWithIndex.flatMap { case (pageObj, idx) =>
        contentBytes(pageObj, byNum) match {
          case Some(data) =>
            val res = pageResources(pageObj, byNum)
            val fonts = fontsFromResources(res, byNum)
            interpret(data, idx + 1, fonts, formResolver(res, fonts, byNum, 0))
          case None => Seq.empty
        }
      }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }

  // ---- object scanning ----

  /** find every `N G obj … endobj` span; xref-free so damaged files parse */
  private[ingest] def scanObjects(b: Array[Byte]): Seq[PdfObj] = {
    val out = mutable.ArrayBuffer.empty[PdfObj]
    var i = 0
    while (i < b.length - 3) {
      if (b(i) == 'o' && b(i + 1) == 'b' && b(i + 2) == 'j' &&
          (i + 3 >= b.length || isDelim(b(i + 3)))) {
        // walk back over ws, generation digits, ws, object digits
        var j = i - 1
        while (j >= 0 && isWs(b(j))) j -= 1
        val genEnd = j
        while (j >= 0 && isDigit(b(j))) j -= 1
        val genStart = j + 1
        while (j >= 0 && isWs(b(j))) j -= 1
        val numEnd = j
        while (j >= 0 && isDigit(b(j))) j -= 1
        val numStart = j + 1
        if (numEnd >= numStart && genEnd >= genStart &&
            (j < 0 || !isDigit(b(j)))) {
          val num = new String(b, numStart, numEnd - numStart + 1).toInt
          val gen = new String(b, genStart, genEnd - genStart + 1).toInt
          val bodyStart = i + 3
          val (obj, nextPos) = parseObject(b, num, gen, bodyStart)
          out += obj
          // endobj is located AFTER the stream extent — binary stream data
          // can contain the "endobj" byte sequence and must not truncate
          val end = indexOf(b, "endobj", nextPos)
          i = if (end < 0) b.length else end
        }
      }
      i += 1
    }
    out.toSeq
  }

  /** parse one object's dict + stream starting at `start`; returns the
    * object and the position just past its stream data (or dict) */
  private def parseObject(b: Array[Byte], num: Int, gen: Int,
                          start: Int): (PdfObj, Int) = {
    val lex = new Lexer(b, start, b.length)
    lex.skipWs()
    val dict = if (lex.peeks("<<")) Some(lex.dict()) else None
    lex.skipWs()
    if (!lex.peeks("stream")) (PdfObj(num, dict, None, gen), lex.pos)
    else {
      var dStart = lex.pos + "stream".length
      if (dStart < b.length && b(dStart) == '\r') dStart += 1
      if (dStart < b.length && b(dStart) == '\n') dStart += 1
      // /Length as a direct integer bounds the data exactly (and safely
      // steps over any "endstream" byte collision inside compressed data);
      // indirect /Length refs fall back to the keyword scan — the subset
      // boundary documented above
      val dEnd = dict.flatMap(_.m.get("Length")) match {
        case Some(PNum(n)) if dStart + n.toInt <= b.length => dStart + n.toInt
        case _ =>
          val e = indexOf(b, "endstream", dStart)
          if (e < 0) b.length else e
      }
      val data = java.util.Arrays.copyOfRange(b, dStart, math.max(dStart, dEnd))
      (PdfObj(num, dict, Some(data), gen), dEnd)
    }
  }

  // ---- encryption (standard security handler, PdfDecrypt) ----

  /** scan + decrypt-if-encrypted: the single object-graph entry every
    * consumer (text, title, render seam, visual detector) goes through.
    * An /Encrypt reference is searched in `trailer` dicts AND in XRef
    * stream dicts (xref-stream files have no trailer keyword); the LAST
    * one wins (incremental updates). Encrypted-but-unsupported (or a file
    * that genuinely needs a password) → Seq.empty: emit nothing. */
  private[ingest] def loadObjects(b: Array[Byte]): Seq[PdfObj] = {
    val objs = scanObjects(b)
    val decrypted = findEncrypt(b, objs) match {
      case None => objs
      case Some((encAt, id0)) =>
        val byNum = objs.map(o => o.num -> o).toMap
        val resolved = encAt match {
          case Left(n)  => byNum.get(n).flatMap(_.dict).map(d => (d, n))
          case Right(d) => Some((d, -1)) // direct dict: no object to skip
        }
        resolved match {
          case Some((encDict, encNum)) =>
            PdfDecrypt.decryptObjects(objs, encDict, encNum, id0)
              .getOrElse(Seq.empty)
          case None => Seq.empty // /Encrypt present but unresolvable: refuse
        }
    }
    expandObjStms(decrypted)
  }

  // ---- object streams (PDF 1.5+ compressed objects) ----

  /** Expand /Type /ObjStm object streams (ISO 32000 §7.5.7). Modern
    * toolchains store most non-stream objects — the catalog, the page
    * tree, font dicts — inside ONE compressed stream object, so a scan of
    * top-level `N G obj` spans alone sees a page-less document; this is
    * the default output shape of every major producer since PDF 1.5. The
    * stream's first /First bytes hold /N whitespace-separated
    * `objnum offset` integer pairs; each embedded object is one direct
    * value at `First + offset` (streams cannot nest, generation is always
    * 0). Children are spliced in document order right after their
    * container, so the consumers' by-number last-wins map keeps
    * incremental-update semantics without an xref table. A container that
    * fails to decode or has a malformed header expands to nothing
    * (emit-nothing posture). Encrypted files decrypt BEFORE expansion —
    * per §7.5.7 strings inside an ObjStm are never individually
    * encrypted. Non-dict children (rare indirect arrays/numbers) keep the
    * same `dict = None` degradation top-level non-dict objects get. */
  private[ingest] def expandObjStms(objs: Seq[PdfObj]): Seq[PdfObj] =
    objs.flatMap { o =>
      if (!o.dict.exists(_.m.get("Type").contains(PName("ObjStm")))) Seq(o)
      else o +: (for {
        d <- o.dict.toSeq
        n <- d.m.get("N").collect { case PNum(v) if v >= 0 => v.toInt }.toSeq
        first <- d.m.get("First").collect { case PNum(v) if v >= 0 => v.toInt }.toSeq
        data <- o.stream.flatMap(decode(_, o.dict)).toSeq
        kid <- objStmChildren(data, n, first)
      } yield kid)
    }

  private def objStmChildren(data: Array[Byte], n: Int,
                             first: Int): Seq[PdfObj] = {
    if (first > data.length) return Seq.empty
    val head = new Lexer(data, 0, first)
    val pairs = mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    while (i < n) {
      (head.token(), head.token()) match {
        case (PNum(num), PNum(off)) if num >= 0 && off >= 0 =>
          pairs += ((num.toInt, off.toInt)); i += 1
        case _ => return Seq.empty // malformed header: refuse whole
      }
    }
    pairs.toSeq.flatMap { case (num, off) =>
      val at = first.toLong + off
      if (at >= data.length) None
      else new Lexer(data, at.toInt, data.length).token() match {
        case d: PDict => Some(PdfObj(num, Some(d), None, 0))
        case null | _: Op => None
        case _ => Some(PdfObj(num, None, None, 0)) // non-dict: resolvable num
      }
    }
  }

  /** locate /Encrypt (indirect ref or direct dict) and the first /ID
    * element: every `trailer` keyword's dict, then any /Type /XRef stream
    * dict; the LAST trailer wins (incremental updates) */
  private[ingest] def findEncrypt(b: Array[Byte], objs: Seq[PdfObj])
      : Option[(Either[Int, PDict], Option[Array[Byte]])] = {
    def fromDict(d: PDict): Option[(Either[Int, PDict], Option[Array[Byte]])] =
      d.m.get("Encrypt").map { e =>
        val id0 = d.m.get("ID").collect {
          case PArr(items) => items.headOption.collect { case PStr(s) => s }
        }.flatten
        e match {
          case PRef(n)   => (Left(n), id0)
          case pd: PDict => (Right(pd), id0)
          // any other shape still means "this file is encrypted" — carry a
          // never-resolvable ref so loadObjects refuses instead of garbling
          case _         => (Left(Int.MinValue), id0)
        }
      }
    val fromTrailers = {
      var found: Option[(Either[Int, PDict], Option[Array[Byte]])] = None
      var i = indexOf(b, "trailer", 0)
      while (i >= 0) {
        val lex = new Lexer(b, i + "trailer".length, b.length)
        lex.skipWs()
        if (lex.peeks("<<"))
          try fromDict(lex.dict()).foreach(f => found = Some(f))
          catch { case scala.util.control.NonFatal(_) => () }
        i = indexOf(b, "trailer", i + 1)
      }
      found
    }
    fromTrailers.orElse {
      objs.reverseIterator.flatMap { o =>
        if (o.dict.exists(_.m.get("Type").contains(PName("XRef"))))
          o.dict.flatMap(fromDict)
        else None
      }.nextOption()
    }
  }

  // ---- page tree ----

  /** catalog → /Pages → /Kids walk (the authoritative page order);
    * fallback: /Type /Page objects in byte order */
  private[ingest] def orderedPages(objs: Seq[PdfObj],
                           byNum: Map[Int, PdfObj]): Seq[PdfObj] = {
    def isType(o: PdfObj, t: String): Boolean =
      o.dict.exists(_.m.get("Type").contains(PName(t)))
    val fromTree: Seq[PdfObj] =
      objs.find(isType(_, "Catalog"))
        .flatMap(_.dict.flatMap(_.m.get("Pages")))
        .collect { case PRef(n) => n }
        .map { root =>
          val seen = mutable.Set.empty[Int]
          val acc = mutable.ArrayBuffer.empty[PdfObj]
          def walk(num: Int, depth: Int): Unit =
            if (depth < 64 && seen.add(num)) byNum.get(num).foreach { o =>
              if (isType(o, "Page")) acc += o
              else o.dict.flatMap(_.m.get("Kids")) match {
                case Some(PArr(kids)) =>
                  kids.foreach { case PRef(k) => walk(k, depth + 1); case _ => () }
                case _ => ()
              }
            }
          walk(root, 0)
          acc.toSeq
        }
        .getOrElse(Seq.empty)
    if (fromTree.nonEmpty) fromTree else objs.filter(isType(_, "Page"))
  }

  /** one page's decoded content bytes (1-based index into the page tree
    * order), empty when the page or its streams are absent/undecodable —
    * the F20 render seam's input (VisualCaption.renderPage) */
  private[ingest] def pageContentBytes(bytes: Array[Byte], page: Int): Array[Byte] =
    try {
      val objs = loadObjects(bytes)
      val byNum = objs.map(o => o.num -> o).toMap
      orderedPages(objs, byNum).lift(page - 1)
        .flatMap(contentBytes(_, byNum)).getOrElse(Array.emptyByteArray)
    } catch { case scala.util.control.NonFatal(_) => Array.emptyByteArray }

  /** a page's decoded content: single stream or array, concatenated */
  private[ingest] def contentBytes(page: PdfObj,
                           byNum: Map[Int, PdfObj]): Option[Array[Byte]] = {
    def decoded(num: Int): Option[Array[Byte]] =
      byNum.get(num).flatMap(o => o.stream.flatMap(s => decode(s, o.dict)))
    page.dict.flatMap(_.m.get("Contents")).flatMap {
      case PRef(n) => decoded(n)
      case PArr(items) =>
        val parts = items.collect { case PRef(n) => decoded(n) }.flatten
        if (parts.isEmpty) None
        else Some(parts.reduce((a, c) => a ++ Array[Byte]('\n') ++ c))
      case _ => None
    }
  }

  private def decode(data: Array[Byte], dict: Option[PDict]): Option[Array[Byte]] =
    decodeToImageCodec(data, dict).collect { case (bytes, None) => bytes }

  /** the filter-chain names that are image CODECS, not byte filters: they
    * terminate a chain (ISO 32000 §7.4.8–7.4.10) and their output is
    * pixels, not a byte stream for the next filter */
  private val ImageCodecs =
    Set("DCTDecode", "DCT", "CCITTFaxDecode", "CCF", "JBIG2Decode", "JPXDecode")

  /** Decode a stream's standard filter chain; a TERMINAL image codec is
    * handed back to the caller (with its /DecodeParms slot) instead of
    * refused — the image-extraction path decodes it with the matching
    * pixel codec. Content-stream consumers go through [[decode]], which
    * keeps the emit-nothing posture for any remaining codec. An image
    * codec anywhere but last, or an unknown filter, refuses the whole
    * stream (a codec mid-chain is malformed per §7.4.1). */
  private[ingest] def decodeToImageCodec(data: Array[Byte], dict: Option[PDict])
      : Option[(Array[Byte], Option[(String, Option[PDict])])] = {
    val m = dict.map(_.m).getOrElse(Map.empty)
    // /Filter as a single name or a chain array (applied in array order,
    // ISO 32000 §7.3.8.2 — e.g. [/ASCII85Decode /FlateDecode] from
    // PostScript-derived toolchains); a non-name member → out of subset
    val filters: Option[Seq[String]] = m.get("Filter") match {
      case Some(PName(f)) => Some(Seq(f))
      case Some(PArr(fs)) =>
        val names = fs.collect { case PName(f) => f }
        if (names.length == fs.length) Some(names) else None
      case None => Some(Nil)
      case _ => None
    }
    // /DecodeParms (or /DP): a direct dict (paired with a 1-filter chain),
    // or an array parallel to the filter array with null/absent slots; an
    // indirect-ref parms we cannot resolve here → emit nothing rather
    // than mis-predict
    def parmsFor(n: Int): Option[Seq[Option[PDict]]] =
      m.get("DecodeParms").orElse(m.get("DP")) match {
        case Some(d: PDict) if n == 1 => Some(Seq(Some(d)))
        case Some(PArr(ps)) if ps.length <= n =>
          val slots = ps.map {
            case d: PDict => Right(Some(d)): Either[Unit, Option[PDict]]
            case PNullV => Right(None)
            case _ => Left(())
          }
          if (slots.exists(_.isLeft)) None
          else Some(slots.map(_.toOption.get).padTo(n, None))
        case None => Some(Seq.fill(n)(None))
        case Some(PNullV) => Some(Seq.fill(n)(None))
        case _ => None
      }
    def earlyChange(p: Option[PDict]): Int =
      p.flatMap(_.m.get("EarlyChange")) match {
        case Some(PNum(n)) => n.toInt
        case _ => 1
      }
    filters match {
      case Some(Nil) => Some((data, None))
      case Some(fs) =>
        val (std, codec) =
          if (ImageCodecs.contains(fs.last)) (fs.init, Some(fs.last))
          else (fs, None)
        if (std.exists(ImageCodecs.contains)) None // codec mid-chain: malformed
        else parmsFor(fs.length).flatMap { ps =>
          std.zip(ps).foldLeft(Option(data)) { case (acc, (f, p)) =>
            acc.flatMap { bytes =>
              f match {
                case "FlateDecode" | "Fl" =>
                  inflate(bytes).flatMap(applyPredictor(_, p))
                case "LZWDecode" | "LZW" =>
                  lzwDecode(bytes, earlyChange(p)).flatMap(applyPredictor(_, p))
                case "ASCIIHexDecode" | "AHx" => asciiHexDecode(bytes)
                case "ASCII85Decode" | "A85" => ascii85Decode(bytes)
                case "RunLengthDecode" | "RL" => runLengthDecode(bytes)
                case _ => None // Crypt/unknown: emit nothing
              }
            }
          }.map(bytes => (bytes, codec.map(c => (c, ps.last))))
        }
      case None => None
    }
  }

  /** ASCIIHexDecode (ISO 32000 §7.4.2): hex digit pairs, whitespace
    * ignored, `>` EOD (an odd trailing digit reads as if followed by 0).
    * Any other character means corrupt input → refuse whole. */
  private[graft] def asciiHexDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 1)
    var hi = -1
    var i = 0
    while (i < data.length) {
      val c = data(i)
      val d = if (c >= '0' && c <= '9') c - '0'
              else if (c >= 'A' && c <= 'F') c - 'A' + 10
              else if (c >= 'a' && c <= 'f') c - 'a' + 10
              else -1
      if (d >= 0) {
        if (hi < 0) hi = d
        else { out.write((hi << 4) | d); hi = -1 }
      } else if (c == '>') {
        if (hi >= 0) out.write(hi << 4)
        return Some(out.toByteArray)
      } else if (!isWs(c)) return None
      i += 1
    }
    if (hi >= 0) out.write(hi << 4) // EOD marker optional at end-of-stream
    Some(out.toByteArray)
  }

  /** ASCII85Decode (ISO 32000 §7.4.3): 5 chars in `!`..`u` → 4 bytes
    * (base-85 big-endian), `z` a whole zero group, whitespace ignored,
    * `~>` EOD; a final partial group of n chars pads with `u` and emits
    * n−1 bytes. Group overflow (> 2^32−1), a 1-char final group, `z`
    * inside a group, or any other character → refuse whole. A leading
    * `<~` (the PostScript framing some producers emit) is skipped. */
  private[graft] def ascii85Decode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 4 / 5 + 4)
    val grp = new Array[Int](5)
    var n = 0
    def flush(chars: Int): Boolean = { // chars ∈ 2..5; emits chars-1 bytes
      var v = 0L
      var i = 0
      while (i < 5) { v = v * 85 + (if (i < chars) grp(i) else 84); i += 1 }
      if (v > 0xFFFFFFFFL) return false
      var b = 3
      while (b >= 4 - (chars - 1)) { out.write(((v >> (b * 8)) & 0xFF).toInt); b -= 1 }
      true
    }
    var i = if (data.length >= 2 && data(0) == '<' && data(1) == '~') 2 else 0
    while (i < data.length) {
      val c = data(i)
      if (c >= '!' && c <= 'u') {
        grp(n) = c - '!'; n += 1
        if (n == 5) { if (!flush(5)) return None; n = 0 }
      } else if (c == 'z') {
        if (n != 0) return None
        out.write(0); out.write(0); out.write(0); out.write(0)
      } else if (c == '~') {
        if (n == 1) return None
        if (n >= 2 && !flush(n)) return None
        return Some(out.toByteArray)
      } else if (!isWs(c)) return None
      i += 1
    }
    if (n == 1) return None
    if (n >= 2 && !flush(n)) return None
    Some(out.toByteArray) // EOD marker optional at end-of-stream
  }

  /** RunLengthDecode (ISO 32000 §7.4.5): length byte L — 0..127 copies the
    * next L+1 bytes literally, 129..255 repeats the next byte 257−L times,
    * 128 is EOD. A run truncated mid-stream → refuse whole. */
  private[graft] def runLengthDecode(data: Array[Byte]): Option[Array[Byte]] = {
    val out = new java.io.ByteArrayOutputStream(data.length * 2)
    var i = 0
    while (i < data.length) {
      val l = data(i) & 0xFF
      if (l == 128) return Some(out.toByteArray)
      else if (l < 128) {
        if (i + 1 + l + 1 > data.length) return None
        out.write(data, i + 1, l + 1); i += l + 2
      } else {
        if (i + 1 >= data.length) return None
        val b = data(i + 1) & 0xFF
        var k = 257 - l
        while (k > 0) { out.write(b); k -= 1 }
        i += 2
      }
    }
    Some(out.toByteArray) // EOD marker optional at end-of-stream
  }

  /** undo a /Predictor on flate output: PNG row filters 10–15 (None/Sub/Up/
    * Average/Paeth per row, tag byte leading each row) and TIFF horizontal
    * differencing (2, 8-bit components). Predictor ≤ 1 is the identity. */
  private[ingest] def applyPredictor(data: Array[Byte],
                                     parms: Option[PDict]): Option[Array[Byte]] = {
    val m = parms.map(_.m).getOrElse(Map.empty)
    def intOf(k: String, dflt: Int): Int = m.get(k) match {
      case Some(PNum(n)) => n.toInt
      case _ => dflt
    }
    val pred = intOf("Predictor", 1)
    if (pred <= 1) Some(data)
    else {
      val colors = intOf("Colors", 1)
      val bpc = intOf("BitsPerComponent", 8)
      val columns = intOf("Columns", 1)
      val bpp = math.max(1, colors * bpc / 8)
      val rowLen = (columns * colors * bpc + 7) / 8
      if (rowLen <= 0) None
      else if (pred == 2) {
        if (bpc != 8) None // sub-byte TIFF differencing: out of subset
        else if (data.length % rowLen != 0) None // partial row: refuse
        else {
          val out = data.clone()
          var r = 0
          while (r + rowLen <= out.length) {
            var i = r + bpp
            while (i < r + rowLen) {
              out(i) = ((out(i) + out(i - bpp)) & 0xFF).toByte; i += 1
            }
            r += rowLen
          }
          Some(out)
        }
      } else if (pred >= 10) {
        val stride = rowLen + 1
        // a trailing partial row means the stream is corrupt/truncated:
        // refuse whole (mirrors the bad-filter-tag refusal below) rather
        // than emit the decodable prefix as if it were the document
        if (data.length % stride != 0) return None
        val rows = data.length / stride
        val out = new Array[Byte](rows * rowLen)
        var r = 0
        while (r < rows) {
          val ft = data(r * stride) & 0xFF
          if (ft > 4) return None // not a PNG filter tag: refuse, don't garble
          val src = r * stride + 1
          val dst = r * rowLen
          var i = 0
          while (i < rowLen) {
            val raw = data(src + i) & 0xFF
            val left = if (i >= bpp) out(dst + i - bpp) & 0xFF else 0
            val up = if (r > 0) out(dst - rowLen + i) & 0xFF else 0
            val ul = if (r > 0 && i >= bpp) out(dst - rowLen + i - bpp) & 0xFF else 0
            val v = ft match {
              case 0 => raw
              case 1 => raw + left
              case 2 => raw + up
              case 3 => raw + ((left + up) / 2)
              case _ => // Paeth
                val p = left + up - ul
                val pa = math.abs(p - left)
                val pb = math.abs(p - up)
                val pc = math.abs(p - ul)
                raw + (if (pa <= pb && pa <= pc) left
                       else if (pb <= pc) up else ul)
            }
            out(dst + i) = (v & 0xFF).toByte
            i += 1
          }
          r += 1
        }
        Some(out)
      } else None
    }
  }

  /** LZWDecode (ISO 32000 §7.4.4.2, the TIFF variant): MSB-first packed
    * codes starting at 9 bits, Clear=256 resets the table and width,
    * EOD=257, width grows at 511/1023/2047 (shifted by `earlyChange`, the
    * /DecodeParms default 1 — the same one-code-early switch mupdf and
    * pdf.js implement). An out-of-table code other than the next-to-assign
    * slot (the standard KwKwK case) means corrupt input → refuse whole. */
  private[graft] def lzwDecode(data: Array[Byte],
                               earlyChange: Int = 1): Option[Array[Byte]] =
    try {
      val out = new java.io.ByteArrayOutputStream(math.max(64, data.length * 4))
      val dict = mutable.ArrayBuffer.empty[Array[Byte]]
      def resetDict(): Unit = {
        dict.clear()
        var i = 0
        while (i < 256) { dict += Array(i.toByte); i += 1 }
        dict += null; dict += null // 256 Clear, 257 EOD
      }
      resetDict()
      var width = 9
      var bitBuf = 0L
      var bitCnt = 0
      var prev: Array[Byte] = null
      var i = 0
      var done = false
      while (i < data.length && !done) {
        bitBuf = (bitBuf << 8) | (data(i) & 0xFF); bitCnt += 8; i += 1
        while (bitCnt >= width && !done) {
          val code = ((bitBuf >> (bitCnt - width)) & ((1L << width) - 1)).toInt
          bitCnt -= width
          if (code == 256) { resetDict(); width = 9; prev = null }
          else if (code == 257) done = true
          else {
            val entry =
              if (code < dict.length && dict(code) != null) dict(code)
              else if (code == dict.length && prev != null) prev :+ prev(0)
              else return None // invalid code: refuse, don't garble
            out.write(entry)
            if (prev != null) dict += (prev :+ entry(0))
            prev = entry
            if (width < 12 && dict.length + earlyChange >= (1 << width))
              width += 1
          }
        }
      }
      Some(out.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def inflate(data: Array[Byte]): Option[Array[Byte]] =
    try {
      val inf = new Inflater()
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 4)
      val buf = new Array[Byte](8192)
      var n = inf.inflate(buf)
      while (n > 0) { out.write(buf, 0, n); n = inf.inflate(buf) }
      inf.end()
      Some(out.toByteArray)
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- /ToUnicode CMaps (1- to 4-byte codespaces, uniform or mixed) ----

  /** A parsed /ToUnicode map. `widths` are the distinct code byte-counts
    * the codespace declares (ascending, ⊆ {1, 2, 3, 4}); `ranges` are the
    * declared codespace ranges `(nbytes, lo, hi)`; `m` maps
    * `(nbytes, code)` → unicode. Show strings segment against the
    * codespace (shortest matching width first, ISO 32000 §9.7.6.3 /
    * Adobe CMap spec §7.2): a byte sequence is consumed at the width
    * whose range contains it, so a Shift-JIS-shaped mixed codespace
    * (`<00><80>` + `<8140><FFFC>`) reads 1- and 2-byte codes off one
    * string correctly; 3/4-byte spaces cover the GB18030/UTF-32-shaped
    * CMaps (4-byte codes capped at Int.MaxValue — above that is out of
    * subset, far beyond any Unicode-shaped space). */
  private[graft] final case class CMap(widths: List[Int],
                                       ranges: Vector[(Int, Int, Int)],
                                       m: Map[(Int, Int), String]) {
    def isEmpty: Boolean = m.isEmpty
    /** uniform code width, or 0 when the codespace mixes widths */
    def width: Int = widths match { case w :: Nil => w; case _ => 0 }
    def inRange(w: Int, code: Int): Boolean =
      ranges.exists(r => r._1 == w && code >= r._2 && code <= r._3)
  }

  /** Parse a /ToUnicode CMap stream: bfchar pairs, bfrange with an
    * incrementing base or an explicit destination array. Code widths come
    * from `begincodespacerange` — 1- to 4-byte spaces, uniform or mixed,
    * are supported; bounds wider than 4 bytes (or a 4-byte hi above
    * Int.MaxValue) are out of subset and yield an empty map (shows fall
    * back per the caller). Without a codespacerange the single width is
    * inferred from the mapping source codes (ambiguous if they mix —
    * empty map). Mapping entries whose source width matches no codespace
    * width are dropped. */
  private[graft] def parseCMap(bytes: Array[Byte]): CMap = {
    val text = new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
    def hexStr(h: String): String = { // UTF-16BE code units, 4 digits each
      val units = h.grouped(4).filter(_.length == 4)
        .map(g => Integer.parseInt(g, 16).toChar).toArray
      new String(units)
    }
    val charBlock = "(?s)beginbfchar(.*?)endbfchar".r
    val pair = "<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>".r
    val rangeBlock = "(?s)beginbfrange(.*?)endbfrange".r
    val triple =
      ("(?s)<([0-9A-Fa-f]+)>\\s*<([0-9A-Fa-f]+)>\\s*" +
       "(?:<([0-9A-Fa-f]+)>|\\[(.*?)\\])").r
    val dstHex = "<([0-9A-Fa-f]+)>".r
    val csBlock = "(?s)begincodespacerange(.*?)endcodespacerange".r
    val none = CMap(Nil, Vector.empty, Map.empty)
    val csBounds = (for {
      blk <- csBlock.findAllMatchIn(text)
      p <- pair.findAllMatchIn(blk.group(1))
    } yield (p.group(1), p.group(2))).toVector
    if (csBounds.exists { case (a, b) =>
          a.length != b.length || a.length % 2 != 0 ||
          a.length < 2 || a.length > 8 })
      return none // >4-byte or lo/hi-width-mismatched codespace
    val parsedBounds = csBounds.map { case (a, b) =>
      (a.length / 2, java.lang.Long.parseLong(a, 16),
        java.lang.Long.parseLong(b, 16)) }
    // 4-byte spaces beyond 0x7FFFFFFF are out of subset (Unicode-shaped
    // spaces top out at 0010FFFF; keeping codes in Int keeps every map
    // site simple)
    if (parsedBounds.exists(_._3 > Int.MaxValue)) return none
    var ranges = parsedBounds.map { case (w, lo, hi) =>
      (w, lo.toInt, hi.toInt) }
    if (ranges.isEmpty) {
      val srcWidths =
        (for (blk <- charBlock.findAllMatchIn(text);
              p <- pair.findAllMatchIn(blk.group(1))) yield p.group(1).length).toSet ++
        (for (blk <- rangeBlock.findAllMatchIn(text);
              t <- triple.findAllMatchIn(blk.group(1));
              g <- Seq(t.group(1), t.group(2))) yield g.length).toSet
      if (srcWidths.size != 1 || !Set(2, 4, 6, 8).contains(srcWidths.head))
        return none
      val w = srcWidths.head / 2
      ranges = Vector((w, 0, if (w == 4) Int.MaxValue else (1 << (8 * w)) - 1))
    }
    val widths = ranges.map(_._1).distinct.sorted.toList
    def widthOf(hex: String): Option[Int] =
      Some(hex.length / 2).filter(w => hex.length % 2 == 0 && widths.contains(w))
    def codeOf(hex: String): Option[Int] = {
      val v = java.lang.Long.parseLong(hex, 16)
      if (v <= Int.MaxValue) Some(v.toInt) else None
    }
    val m = mutable.Map.empty[(Int, Int), String]
    for (blk <- charBlock.findAllMatchIn(text);
         p <- pair.findAllMatchIn(blk.group(1));
         w <- widthOf(p.group(1)); c <- codeOf(p.group(1)))
      m((w, c)) = hexStr(p.group(2))
    for (blk <- rangeBlock.findAllMatchIn(text);
         t <- triple.findAllMatchIn(blk.group(1))
         if t.group(1).length == t.group(2).length;
         w <- widthOf(t.group(1));
         lo <- codeOf(t.group(1)); hi <- codeOf(t.group(2))) {
      if (t.group(3) != null && t.group(3).length >= 4) {
        // incrementing base: the final UTF-16 unit carries the offset
        val base = t.group(3)
        val prefix = hexStr(base.dropRight(4))
        val last = Integer.parseInt(base.takeRight(4), 16)
        var c = lo
        while (c <= hi) { m((w, c)) = prefix + (last + (c - lo)).toChar; c += 1 }
      } else if (t.group(4) != null) {
        dstHex.findAllMatchIn(t.group(4)).map(_.group(1)).zipWithIndex
          .foreach { case (d, i) =>
            if (lo + i <= hi) m((w, lo + i)) = hexStr(d) }
      }
    }
    CMap(widths, ranges, m.toMap)
  }

  /** inheritable page-tree attribute: the page's own dict, else the
    * /Parent chain (ISO 32000 §7.7.3.4), cycle-guarded by depth */
  private[ingest] def inheritedAttr(obj: PdfObj, byNum: Map[Int, PdfObj],
                                    key: String, depth: Int = 0): Option[PVal] =
    if (depth >= 64) None
    else obj.dict.flatMap(_.m.get(key)) match {
      case some @ Some(_) => some
      case None => obj.dict.flatMap(_.m.get("Parent")) match {
        case Some(PRef(p)) =>
          byNum.get(p).flatMap(inheritedAttr(_, byNum, key, depth + 1))
        case _ => None
      }
    }

  /** the page's (inheritable) /Resources dict, one indirect hop resolved */
  private[ingest] def pageResources(page: PdfObj,
                                    byNum: Map[Int, PdfObj]): Option[PDict] =
    inheritedAttr(page, byNum, "Resources").flatMap(refDict(_, byNum))

  private def refDict(v: PVal, byNum: Map[Int, PdfObj]): Option[PDict] =
    v match {
      case d: PDict => Some(d)
      case PRef(n) => byNum.get(n).flatMap(_.dict)
      case _ => None
    }

  /** font-name → ToUnicode [[CMap]] from a /Resources dict (a page's is
    * inheritable, per §7.7.3.4 — intermediate /Pages nodes commonly hold
    * it, see [[pageResources]]) → /Font dict (direct or one indirect hop).
    * Resolution order per font: (1) a usable /ToUnicode CMap; (2) for Type0 (CID-keyed) fonts
    * without one, glyph→unicode recovered from the embedded TrueType
    * 'cmap' table ([[cidFontCMap]]); (3) a Type0 font with NEITHER still
    * maps — to an EMPTY width-2 CMap, so its glyph-id shows are consumed
    * pairwise and dropped (byte-decoding them would garble; this is the
    * "emit nothing rather than garbage" posture applied to fonts). Only
    * simple fonts with no map at all fall back to byte decoding. */
  private[ingest] def fontsFromResources(res: Option[PDict],
                                         byNum: Map[Int, PdfObj])
      : Map[String, CMap] = {
    def asDict(v: PVal): Option[PDict] = refDict(v, byNum)
    val fonts = for {
      r <- res
      fd <- r.m.get("Font").flatMap(asDict)
    } yield fd.m
    fonts.getOrElse(Map.empty).flatMap { case (fname, fv) =>
      val fdOpt = asDict(fv)
      val viaToUnicode = for {
        fd <- fdOpt
        tu <- fd.m.get("ToUnicode")
        num <- tu match { case PRef(n) => Some(n); case _ => None }
        obj <- byNum.get(num)
        s <- obj.stream
        dec <- decode(s, obj.dict)
      } yield parseCMap(dec)
      val isType0 = fdOpt.exists(_.m.get("Subtype").contains(PName("Type0")))
      viaToUnicode.filter(!_.isEmpty)
        .orElse(fdOpt.flatMap(cidFontCMap(_, byNum)))
        .orElse(if (isType0)
          Some(CMap(List(2), Vector((2, 0, 0xFFFF)), Map.empty)) else None)
        .orElse(fdOpt.flatMap(differencesCMap(_, byNum)))
        .map(fname -> _)
    }
  }

  /** Simple-font /Encoding (§9.6.6): a named base encoding
    * ([[BaseEncodings]] — WinAnsi's 0x80–0x9F and MacRoman's whole upper
    * half diverge from the Latin-1 byte fallback) overlaid with a
    * /Differences array mapping byte codes → glyph NAMES → unicode via
    * [[GlyphNames]] (the pdftex/LaTeX re-seating of ligatures, curly
    * quotes, and accents). Codes neither covers (or whose glyph name is
    * unknown) keep the byte-decode fallback through the width-1 CMap's
    * per-byte getOrElse; a name or slot that RESOLVES to empty (.notdef,
    * Annex-D-undefined codes) maps to "" and drops.
    *
    * When the font dict names NO base encoding, §9.6.6 falls back to the
    * embedded font program's BUILT-IN encoding — recovered here for
    * /FontFile3 /Type1C ([[CffFont]]: Encoding ∘ Charset → glyph names)
    * and /FontFile Type1 programs ([[Type1Font]]: the cleartext
    * `dup code /name put` array). The dvips/dvipdfmx class of PDFs
    * carries neither /ToUnicode nor /Differences and is unreadable
    * without this step. */
  private def differencesCMap(fd: PDict, byNum: Map[Int, PdfObj]): Option[CMap] = {
    def asDict(v: PVal): Option[PDict] = v match {
      case d: PDict => Some(d)
      case PRef(n) => byNum.get(n).flatMap(_.dict)
      case _ => None
    }
    val enc = fd.m.get("Encoding")
    val base: Map[Int, String] = {
      val name = enc match {
        case Some(PName(n)) => Some(n)
        case _ => enc.flatMap(asDict).flatMap(
          _.m.get("BaseEncoding").collect { case PName(n) => n })
      }
      name.flatMap(BaseEncodings.forName)
        .orElse(if (name.isEmpty) builtinBase(fd, byNum) else None)
        .getOrElse(Map.empty)
    }
    val diffs = enc.flatMap(asDict).flatMap(
      _.m.get("Differences").collect { case PArr(items) => items })
      .getOrElse(Vector.empty)
    val m = mutable.Map.empty[(Int, Int), String]
    base.foreach { case (c, u) => m((1, c)) = u }
    var code = -1
    diffs.foreach {
      case PNum(n) => code = n.toInt
      case PName(g) =>
        if (code >= 0 && code <= 255)
          GlyphNames.toUnicode(g).foreach(u => m((1, code)) = u)
        code += 1
      case _ => () // malformed member: skip, keep consuming
    }
    if (m.isEmpty) None
    else Some(CMap(List(1), Vector((1, 0, 255)), m.toMap))
  }

  /** built-in encoding of the embedded simple-font program (§9.6.6's
    * base when the font dict names none). /FontFile3 must declare
    * /Subtype /Type1C — CIDFontType0C has no code→name encoding and
    * OpenType is an SFNT wrapper, not bare CFF (both refuse). Glyph
    * names resolve through [[GlyphNames]]; unknown names keep the byte
    * fallback, exactly like /Differences entries. */
  private def builtinBase(fd: PDict, byNum: Map[Int, PdfObj])
      : Option[Map[Int, String]] = {
    def fontStream(key: String): Option[(Array[Byte], Option[PDict])] =
      for {
        fdesc <- fd.m.get("FontDescriptor").flatMap(refDict(_, byNum))
        num <- fdesc.m.get(key).collect { case PRef(n) => n }
        o <- byNum.get(num)
        s <- o.stream
        dec <- decode(s, o.dict)
      } yield (dec, o.dict)
    val builtin =
      fontStream("FontFile3").filter { case (_, d) =>
        d.exists(_.m.get("Subtype").contains(PName("Type1C")))
      }.flatMap { case (b, _) => CffFont.builtinEncoding(b) }
        .orElse(fontStream("FontFile").flatMap { case (b, _) =>
          Type1Font.builtinEncoding(b) })
    builtin.map {
      case CffFont.StandardBuiltin => BaseEncodings.standard
      case CffFont.NamesBuiltin(names) =>
        names.flatMap { case (c, n) => GlyphNames.toUnicode(n).map(c -> _) }
    }
  }

  /** CID-keyed fonts carrying NO usable /ToUnicode: recover glyph→unicode
    * from the embedded TrueType font's own 'cmap' table
    * ([[TrueTypeCmap]]) — the route the reference's mupdf backend takes.
    * Supported shape (the overwhelmingly common embedded-CJK case):
    * /Subtype /Type0, /Encoding /Identity-H or /Identity-V (show codes
    * ARE CIDs), one CIDFontType2 descendant whose /FontDescriptor carries
    * /FontFile2, and /CIDToGIDMap either /Identity (default) or a 2-byte
    * big-endian stream. CFF descendants (CIDFontType0 / FontFile3) and
    * non-identity /Encoding CMaps stay out of subset — the caller maps
    * the font to an empty width-2 CMap and its shows drop. */
  private def cidFontCMap(fd: PDict, byNum: Map[Int, PdfObj]): Option[CMap] = {
    def asDict(v: PVal): Option[PDict] = v match {
      case d: PDict => Some(d)
      case PRef(n) => byNum.get(n).flatMap(_.dict)
      case _ => None
    }
    def streamOf(v: PVal): Option[Array[Byte]] = v match {
      case PRef(n) =>
        byNum.get(n).flatMap(o => o.stream.flatMap(decode(_, o.dict)))
      case _ => None
    }
    val descOpt = for {
      _ <- fd.m.get("Subtype").collect { case PName("Type0") => () }
      _ <- fd.m.get("Encoding").collect {
             case PName("Identity-H") | PName("Identity-V") => () }
      desc <- fd.m.get("DescendantFonts") match {
        case Some(PArr(Vector(one))) => asDict(one)
        case _ => None
      }
    } yield desc
    val viaTrueType = for {
      desc <- descOpt
      _ <- desc.m.get("Subtype").collect { case PName("CIDFontType2") => () }
      fdesc <- desc.m.get("FontDescriptor").flatMap(asDict)
      fontBytes <- fdesc.m.get("FontFile2").flatMap(streamOf)
      g2u = TrueTypeCmap.glyphToUnicode(fontBytes)
      if g2u.nonEmpty
    } yield {
      val m: Map[(Int, Int), String] = desc.m.get("CIDToGIDMap") match {
        case Some(PName("Identity")) | None =>
          g2u.map { case (gid, u) => (2, gid) -> u }
        case Some(v) =>
          streamOf(v) match {
            case Some(bytes) =>
              (0 until bytes.length / 2).flatMap { cid =>
                val gid = ((bytes(2 * cid) & 0xFF) << 8) | (bytes(2 * cid + 1) & 0xFF)
                g2u.get(gid).map(u => (2, cid) -> u)
              }.toMap
            case None => Map.empty // unresolvable map: refuse, shows drop
          }
      }
      CMap(List(2), Vector((2, 0, 0xFFFF)), m)
    }
    viaTrueType.orElse(cidCffCMap(descOpt, asDict _, streamOf _))
      .filter(!_.isEmpty)
  }

  /** CIDFontType0C (bare CID-keyed CFF in /FontFile3) without /ToUnicode:
    * show codes under Identity-H ARE CIDs (ISO 32000 §9.7.4.2), and the
    * CFF's own charset maps each glyph to its CID — but a CID carries
    * unicode only through its /ROS collection. Two regimes:
    *
    *  - Identity-ORDERED fonts (ROS ordering "Identity"): the CID space is
    *    producer-defined. The recoverable class is name-preserving
    *    conversions (Type1→CID repackaging that kept glyph names in the
    *    String INDEX and assigned each glyph's SID as its CID), verified
    *    structurally: ≥80% of the charset's CIDs must resolve THROUGH THE
    *    FONT'S OWN STRING INDEX (SIDs ≥ 391) to glyph names with known
    *    unicode. Standard-strings resolution is deliberately excluded:
    *    an opaque CID=GID subset font's small sequential CIDs would
    *    otherwise "resolve" through the standard SID table (CID 34 →
    *    "A") and garble — custom strings are the structural evidence
    *    that the producer actually preserved names.
    *  - Registry-ORDERED collections (Adobe-Japan1, -GB1, -CNS1, -Korea1):
    *    CID→unicode needs the collection's published UCS-2 tables, which
    *    this library does not ship → refuse; shows drop pairwise (the
    *    DROP-pinned emit-nothing posture, tested in PdfParserSpec).
    *
    * /CIDToGIDMap is NOT consulted: it is defined only for CIDFontType2
    * (§9.7.4.2); in CIDFontType0 the CFF charset is the CID↔glyph map. */
  private def cidCffCMap(descOpt: Option[PDict],
                         asDict: PVal => Option[PDict],
                         streamOf: PVal => Option[Array[Byte]]): Option[CMap] = {
    for {
      desc <- descOpt
      _ <- desc.m.get("Subtype").collect { case PName("CIDFontType0") => () }
      fdesc <- desc.m.get("FontDescriptor").flatMap(asDict)
      fontBytes <- fdesc.m.get("FontFile3").flatMap(streamOf)
      ck <- CffFont.cidKeyed(fontBytes)
      if ck.ordering == "Identity"
      pairs = ck.gidToCid.iterator.drop(1).filter(_ >= 391).flatMap { cid =>
        ck.sidName(cid).flatMap(GlyphNames.toUnicode).map(cid -> _)
      }.toVector
      total = math.max(1, ck.gidToCid.length - 1)
      if pairs.size * 5 >= total * 4 // ≥80% of glyphs name-resolve
    } yield CMap(List(2), Vector((2, 0, 0xFFFF)),
      pairs.map { case (cid, u) => (2, cid) -> u }.toMap)
  }

  // ---- Form XObjects (§8.10: reusable content referenced via Do) ----

  /** a resolved /Subtype /Form environment: decoded content, fonts and a
    * nested-form resolver scoped to ITS /Resources (inheriting the
    * caller's when the form carries none, per §8.10.2's resource-lookup
    * fallback), and the diag+translate part of its /Matrix */
  private final case class FormEnv(content: Array[Byte],
                                   fonts: Map[String, CMap],
                                   forms: String => Option[FormEnv],
                                   mtx: (Double, Double, Double, Double))

  /** name → [[FormEnv]] through `res`'s /XObject dict; images resolve to
    * None (their Do is a no-op for text), and a depth guard terminates
    * self- or deeply-nested-referencing form chains */
  private def formResolver(res: Option[PDict], fonts: Map[String, CMap],
                           byNum: Map[Int, PdfObj], depth: Int)
      : String => Option[FormEnv] = name =>
    if (depth > 4) None
    else for {
      r <- res
      xo <- r.m.get("XObject").flatMap(refDict(_, byNum))
      num <- xo.m.get(name).collect { case PRef(n) => n }
      o <- byNum.get(num)
      d <- o.dict
      if d.m.get("Subtype").contains(PName("Form"))
      s <- o.stream
      dec <- decode(s, o.dict)
    } yield {
      val formRes = d.m.get("Resources").flatMap(refDict(_, byNum)).orElse(res)
      val fFonts = fontsFromResources(formRes, byNum) match {
        case m if m.nonEmpty => m
        case _ => fonts
      }
      val mtx = d.m.get("Matrix") match {
        case Some(PArr(Vector(PNum(a), PNum(_), PNum(_), PNum(dd),
                              PNum(e), PNum(f)))) => (a, dd, e, f)
        case _ => (1.0, 1.0, 0.0, 0.0)
      }
      FormEnv(dec, fFonts, formResolver(formRes, fFonts, byNum, depth + 1), mtx)
    }

  // ---- content-stream interpreter (text operators only) ----

  private def interpret(content: Array[Byte], page: Int,
                        fonts: Map[String, CMap] = Map.empty,
                        forms: String => Option[FormEnv] = _ => None)
      : Seq[Item] = {
    val items = mutable.ArrayBuffer.empty[Item]
    val lex = new Lexer(content, 0, content.length)
    val stack = mutable.ArrayBuffer.empty[PVal] // operand stack
    var fontSize = 0.0
    var scale = 1.0            // |d| of the last Tm — uniform-scale subset
    var leading = 0.0
    var lineX = 0.0; var lineY = 0.0   // start-of-line position
    var curX = 0.0; var curY = 0.0     // current show position
    var curCMap: Option[CMap] = None // active font's ToUnicode
    // graphics CTM, diag+translate subset (a, d, e, f): tracked only to
    // place Form-XObject text — this level's own items stay in Tm space
    // (the established contract of this parser's coordinate subset)
    var ctm = (1.0, 1.0, 0.0, 0.0)
    val ctmStack = mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]

    def num(v: PVal): Double = v match { case PNum(n) => n; case _ => 0.0 }
    def newline(): Unit = { lineY -= leading; curX = lineX; curY = lineY }
    // show-string decode through the active font's ToUnicode map. Width 1:
    // BOM'd UTF-16BE still wins (it IS already unicode) and unmapped codes
    // fall back per byte. Width 2: bytes are CID-font codes with no byte-
    // level meaning — consumed pairwise, unmapped codes (and a trailing odd
    // byte) dropped rather than garbled, and no BOM exception (0xFEFF is
    // just another code in a 2-byte codespace). Mixed 1+2 codespace: each
    // position is consumed at the shortest declared width whose range
    // contains the code (ISO 32000 §9.7.6.3); a byte outside every range
    // resyncs by one, and unmapped in-range codes drop (CID semantics —
    // the bytes carry no character meaning of their own).
    def codeAt(sb: Array[Byte], i: Int, w: Int): Long = {
      var code = 0L
      var j = 0
      while (j < w) { code = (code << 8) | (sb(i + j) & 0xFF); j += 1 }
      code
    }
    def decodeShown(sb: Array[Byte]): String = curCMap match {
      case Some(cm) if cm.width >= 2 =>
        // uniform multi-byte codespace (2-, 3-, or 4-byte CID codes):
        // consumed at the declared width, unmapped codes (and a trailing
        // short tail) dropped rather than garbled. Codes above
        // Int.MaxValue are outside the parsed subset by construction.
        val w = cm.width
        val out = new StringBuilder
        var i = 0
        while (i + w <= sb.length) {
          val code = codeAt(sb, i, w)
          if (code <= Int.MaxValue) cm.m.get((w, code.toInt)).foreach(out ++= _)
          i += w
        }
        out.toString
      case Some(cm) if cm.width == 1 =>
        if (sb.length >= 2 && (sb(0) & 0xFF) == 0xFE && (sb(1) & 0xFF) == 0xFF)
          decodeText(sb)
        else
          sb.iterator.map(b =>
            cm.m.getOrElse((1, b & 0xFF), (b & 0xFF).toChar.toString)).mkString
      case Some(cm) => // mixed codespace: shortest matching width consumes
        val out = new StringBuilder
        var i = 0
        while (i < sb.length) {
          var consumed = false
          val it = cm.widths.iterator
          while (!consumed && it.hasNext) {
            val w = it.next()
            if (i + w <= sb.length) {
              val code = codeAt(sb, i, w)
              if (code <= Int.MaxValue && cm.inRange(w, code.toInt)) {
                cm.m.get((w, code.toInt)).foreach(out ++= _)
                i += w
                consumed = true
              }
            }
          }
          if (!consumed) i += 1 // outside every range: drop a byte, resync
        }
        out.toString
      case _ => decodeText(sb)
    }
    def show(s: String): Unit = if (s.nonEmpty) {
      items += Item(page, curX, curY, fontSize * scale, s)
      // rough advance so several shows on one visual line keep X order
      curX += s.length * fontSize * scale * 0.5
    }

    var tok = lex.token()
    while (tok != null) {
      tok match {
        case op: Op => op.name match {
          case "BT" =>
            lineX = 0; lineY = 0; curX = 0; curY = 0; stack.clear()
          case "Tf" =>
            if (stack.nonEmpty) fontSize = num(stack.last)
            curCMap = stack.collectFirst { case PName(f) => f }.flatMap(fonts.get)
            stack.clear()
          case "Tm" =>
            if (stack.length >= 6) {
              val d = num(stack(stack.length - 3))
              scale = if (d != 0) math.abs(d) else 1.0
              lineX = num(stack(stack.length - 2))
              lineY = num(stack(stack.length - 1))
              curX = lineX; curY = lineY
            }
            stack.clear()
          case "Td" | "TD" =>
            if (stack.length >= 2) {
              val tx = num(stack(stack.length - 2))
              val ty = num(stack(stack.length - 1))
              if (op.name == "TD") leading = -ty
              lineX += tx; lineY += ty; curX = lineX; curY = lineY
            }
            stack.clear()
          case "TL" =>
            if (stack.nonEmpty) leading = num(stack.last); stack.clear()
          case "T*" => newline(); stack.clear()
          case "Tj" =>
            stack.lastOption.collect { case PStr(sb) => show(decodeShown(sb)) }
            stack.clear()
          case "'" =>
            newline()
            stack.lastOption.collect { case PStr(sb) => show(decodeShown(sb)) }
            stack.clear()
          case "\"" =>
            newline()
            stack.lastOption.collect { case PStr(sb) => show(decodeShown(sb)) }
            stack.clear()
          case "TJ" =>
            stack.lastOption.collect { case PArr(parts) =>
              val sb = new StringBuilder
              parts.foreach {
                case PStr(s) => sb ++= decodeShown(s)
                // a large negative kern is an inter-word gap (thousandths
                // of an em): the standard heuristic threshold
                case PNum(n) if n < -180 => sb += ' '
                case _ => ()
              }
              show(sb.toString)
            }
            stack.clear()
          case "ET" => stack.clear()
          case "q" => ctmStack += ctm; stack.clear()
          case "Q" =>
            if (ctmStack.nonEmpty) { ctm = ctmStack.last; ctmStack.remove(ctmStack.length - 1) }
            stack.clear()
          case "cm" =>
            // concatenate the diag+translate part (rotation/skew terms are
            // outside the coordinate subset, same as Tm)
            if (stack.length >= 6) {
              val a = num(stack(stack.length - 6))
              val d = num(stack(stack.length - 3))
              val e = num(stack(stack.length - 2))
              val f = num(stack(stack.length - 1))
              ctm = (ctm._1 * a, ctm._2 * d,
                ctm._1 * e + ctm._3, ctm._2 * f + ctm._4)
            }
            stack.clear()
          case "Do" =>
            // a /Form XObject's text, transformed by CTM ∘ form /Matrix;
            // an /Image Do resolves to None and is a no-op
            stack.collectFirst { case PName(n) => n }.flatMap(forms).foreach { env =>
              val a = ctm._1 * env.mtx._1
              val d = ctm._2 * env.mtx._2
              val e = ctm._1 * env.mtx._3 + ctm._3
              val f = ctm._2 * env.mtx._4 + ctm._4
              interpret(env.content, page, env.fonts, env.forms).foreach { it =>
                items += it.copy(x = a * it.x + e, y = d * it.y + f,
                  fontSize = it.fontSize * math.abs(d))
              }
            }
            stack.clear()
          case "BI" =>
            // inline image (§8.9.7): key/value tokens to ID, then RAW
            // BINARY to a whitespace-delimited EI. The binary must not
            // reach the lexer — bytes that happen to form "(...) Tj"
            // would emit garbage text (and an unbalanced "(" would
            // swallow the rest of the stream).
            var t2 = lex.token()
            while (t2 != null && t2 != Op("ID")) t2 = lex.token()
            if (t2 != null) {
              var i = lex.pos + 1 // one ws byte separates ID from data
              while (i + 1 < content.length &&
                     !(content(i) == 'E' && content(i + 1) == 'I' &&
                       isWs(content(i - 1)) &&
                       (i + 2 >= content.length || isDelim(content(i + 2)))))
                i += 1
              lex.pos = math.min(content.length, i + 2)
            }
            stack.clear()
          case _ => stack.clear() // any other operator consumes its operands
        }
        case v => stack += v
      }
      tok = lex.token()
    }
    items.toSeq
  }

  /** show-string bytes → text: UTF-16BE when BOM'd, else Latin-1 (covers
    * PDFDoc/WinAnsi for the ASCII range this subset targets) */
  private def decodeText(b: Array[Byte]): String =
    if (b.length >= 2 && (b(0) & 0xFF) == 0xFE && (b(1) & 0xFF) == 0xFF)
      new String(b, 2, b.length - 2, java.nio.charset.StandardCharsets.UTF_16BE)
    else new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)

  // ---- lexing ----

  private[ingest] final case class Op(name: String) extends PVal

  private[ingest] def isWs(c: Byte): Boolean =
    c == ' ' || c == '\n' || c == '\r' || c == '\t' || c == 0 || c == 12
  private def isDigit(c: Byte): Boolean = c >= '0' && c <= '9'
  private def isDelim(c: Byte): Boolean =
    isWs(c) || c == '<' || c == '>' || c == '[' || c == ']' ||
      c == '(' || c == ')' || c == '/' || c == '%'

  private[ingest] def indexOf(b: Array[Byte], s: String, from: Int,
                      until: Int = Int.MaxValue): Int = {
    val lim = math.min(b.length, until) - s.length
    var i = math.max(0, from)
    while (i <= lim) {
      var j = 0
      while (j < s.length && b(i + j) == s.charAt(j)) j += 1
      if (j == s.length) return i
      i += 1
    }
    -1
  }

  /** tokenizer shared by dictionary parsing and the content interpreter */
  private[ingest] final class Lexer(b: Array[Byte], start: Int, end: Int) {
    var pos: Int = start

    def skipWs(): Unit = {
      var go = true
      while (go && pos < end) {
        if (isWs(b(pos))) pos += 1
        else if (b(pos) == '%') { while (pos < end && b(pos) != '\n') pos += 1 }
        else go = false
      }
    }

    def peeks(s: String): Boolean =
      pos + s.length <= end && (0 until s.length).forall(i => b(pos + i) == s.charAt(i))

    /** next value or operator; null at end */
    def token(): PVal = {
      skipWs()
      if (pos >= end) return null
      val c = b(pos)
      if (peeks("<<")) dict()
      else if (c == '<') { PStr(hexString()) }
      else if (c == '(') { PStr(litString()) }
      else if (c == '/') { PName(name()) }
      else if (c == '[') {
        pos += 1
        val items = Vector.newBuilder[PVal]
        var t = token()
        while (t != null && t != Op("]")) { items += t; t = token() }
        PArr(items.result())
      }
      else if (c == ']') { pos += 1; Op("]") }
      else if (c == '>' && pos + 1 < end && b(pos + 1) == '>') { pos += 2; Op(">>") }
      else if (isDigit(c) || c == '+' || c == '-' || c == '.') numberOrRef()
      else {
        // bare keyword / operator (Tj, BT, true, R handled in numberOrRef…)
        val s = pos
        while (pos < end && !isDelim(b(pos))) pos += 1
        // a lone unpaired delimiter (stray ')' or '>' in a damaged file)
        // consumes zero bytes above — swallow it as a junk op, or the
        // dict/array token loops spin forever on a non-advancing position
        if (pos == s) pos += 1
        val w = new String(b, s, pos - s)
        w match {
          case "true" | "false" => PNum(if (w == "true") 1 else 0)
          case "null" => PNullV
          case _ => Op(w)
        }
      }
    }

    /** number, or an `N G R` indirect reference (3-token lookahead) */
    private def numberOrRef(): PVal = {
      val s = pos
      if (b(pos) == '+' || b(pos) == '-') pos += 1
      while (pos < end && (isDigit(b(pos)) || b(pos) == '.')) pos += 1
      val first = new String(b, s, pos - s).toDouble
      if (first >= 0 && first == first.floor) {
        val save = pos
        skipWs()
        val gs = pos
        while (pos < end && isDigit(b(pos))) pos += 1
        if (pos > gs) {
          skipWs()
          if (pos < end && b(pos) == 'R' &&
              (pos + 1 >= end || isDelim(b(pos + 1)))) {
            pos += 1
            return PRef(first.toInt)
          }
        }
        pos = save
      }
      PNum(first)
    }

    def dict(): PDict = {
      pos += 2 // <<
      val m = Map.newBuilder[String, PVal]
      var t = token()
      while (t != null && t != Op(">>")) {
        t match {
          case PName(k) =>
            val v = token()
            if (v != null && v != Op(">>")) m += k -> v
            else return PDict(m.result())
          case _ => () // malformed entry: skip
        }
        t = token()
      }
      PDict(m.result())
    }

    private def name(): String = {
      pos += 1 // '/'
      val s = pos
      while (pos < end && !isDelim(b(pos))) pos += 1
      new String(b, s, pos - s)
    }

    private def hexString(): Array[Byte] = {
      pos += 1 // '<'
      val out = new java.io.ByteArrayOutputStream()
      var hi = -1
      while (pos < end && b(pos) != '>') {
        val c = b(pos)
        val d = Character.digit(c, 16)
        if (d >= 0) {
          if (hi < 0) hi = d else { out.write(hi * 16 + d); hi = -1 }
        }
        pos += 1
      }
      if (hi >= 0) out.write(hi * 16) // odd digit count: pad with 0
      if (pos < end) pos += 1 // '>'
      out.toByteArray
    }

    private def litString(): Array[Byte] = {
      pos += 1 // '('
      val out = new java.io.ByteArrayOutputStream()
      var depth = 1
      while (pos < end && depth > 0) {
        val c = b(pos)
        if (c == '\\' && pos + 1 < end) {
          pos += 1
          val e = b(pos)
          e match {
            case 'n' => out.write('\n')
            case 'r' => out.write('\r')
            case 't' => out.write('\t')
            case 'b' => out.write('\b')
            case 'f' => out.write(12)
            case '(' => out.write('(')
            case ')' => out.write(')')
            case '\\' => out.write('\\')
            case '\n' => () // line continuation
            case '\r' =>
              if (pos + 1 < end && b(pos + 1) == '\n') pos += 1
            case d if d >= '0' && d <= '7' =>
              var v = d - '0'; var k = 0
              while (k < 2 && pos + 1 < end &&
                     b(pos + 1) >= '0' && b(pos + 1) <= '7') {
                pos += 1; v = v * 8 + (b(pos) - '0'); k += 1
              }
              out.write(v & 0xFF)
            case other => out.write(other.toInt)
          }
          pos += 1
        } else {
          if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          if (depth > 0) out.write(c.toInt)
          pos += 1
        }
      }
      out.toByteArray
    }
  }
}
