package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Seam, Tables}
import graft.embed.HashedEmbedder
import graft.ingest.Ingest
import graft.search.HybridSearch
import graft.sync.SyncPlanner

/** Sync reconciliation + full ingestion/search pipeline queries.
  *
  * Sync manifests are derived deterministically from the documents table:
  *   key       = /corpus/<lang>/<source>/<doc_id>.md
  *   disk      = docs with doc_id % 7 != 0           (some files deleted)
  *   db        = docs with doc_id % 11 != 3          (some never ingested)
  *   modified  = doc_id % 5 == 0 → different content hash ⇒ dirty
  *   2nd spelling (upper-cased source) for doc_id % 13 == 2 ⇒ dirty
  *   unobserved coverage prefix /corpus/zh ⇒ db-only zh keys are held
  */
object PipelineQueries {

  private def keyCol: Column =
    concat(lit("/corpus/"), col("lang"), lit("/"), col("source"),
      lit("/"), col("doc_id").cast("string"), lit(".md"))

  private def keyColUpper: Column =
    concat(lit("/corpus/"), col("lang"), lit("/"), upper(col("source")),
      lit("/"), col("doc_id").cast("string"), lit(".md"))

  private def hashCol: Column =
    md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit("v2")))
      .otherwise(col("text")))

  private def diskDF(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).filter(col("doc_id") % 7 =!= 0)
      .select(keyCol.as("key"), md5(col("text")).as("hash"))

  private def dbDF(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") % 11 =!= 3)
    val base = docs.select(keyCol.as("key"), keyCol.as("spelling"), hashCol.as("hash"))
    val extra = docs.filter(col("doc_id") % 13 === 2)
      .select(keyCol.as("key"), keyColUpper.as("spelling"), hashCol.as("hash"))
    base.union(extra)
  }

  private val SyncCte =
    """WITH k AS (SELECT doc_id, lang, source, text,
      |            '/corpus/' || lang || '/' || source || '/' || doc_id || '.md' AS key
      |          FROM documents),
      |disk AS (SELECT key, md5(text) AS hash FROM k WHERE doc_id % 7 <> 0),
      |dbrows AS (
      |  SELECT key, key AS spelling,
      |         md5(CASE WHEN doc_id % 5 = 0 THEN text || 'v2' ELSE text END) AS hash
      |  FROM k WHERE doc_id % 11 <> 3
      |  UNION ALL
      |  SELECT key,
      |         '/corpus/' || lang || '/' || upper(source) || '/' || doc_id || '.md' AS spelling,
      |         md5(CASE WHEN doc_id % 5 = 0 THEN text || 'v2' ELSE text END) AS hash
      |  FROM k WHERE doc_id % 11 <> 3 AND doc_id % 13 = 2),
      |agg AS (SELECT key, count(DISTINCT spelling) AS n_spellings,
      |               count(DISTINCT hash) AS n_hashes, max(hash) AS one_hash,
      |               sum(CASE WHEN hash IS NULL THEN 1 ELSE 0 END) AS null_hashes
      |        FROM dbrows GROUP BY 1),
      |plan AS (SELECT coalesce(disk.key, agg.key) AS key,
      |    CASE
      |      WHEN disk.hash IS NOT NULL AND agg.key IS NULL THEN 'upsert'
      |      WHEN disk.hash IS NOT NULL AND agg.n_spellings = 1 AND agg.n_hashes = 1
      |           AND agg.null_hashes = 0 AND agg.one_hash = disk.hash THEN 'skip'
      |      WHEN disk.hash IS NOT NULL THEN 'upsert'
      |      WHEN coalesce(disk.key, agg.key) = '/corpus/zh'
      |           OR coalesce(disk.key, agg.key) LIKE '/corpus/zh/%' THEN 'hold'
      |      ELSE 'prune'
      |    END AS action,
      |    coalesce(agg.n_spellings, 0) AS n_spellings
      |  FROM disk FULL JOIN agg ON disk.key = agg.key)""".stripMargin

  /** Materialize the j1 DISK manifest as real files — once per (sf, machine):
    * `<tmp>/graft_sync_corpus_<sf>/<lang>/<source>/<doc_id>.md` containing the
    * doc text. Fixture scaffolding only (executors write their partitions);
    * the feature under test is the distributed gather that reads it back. */
  private def corpusDir(s: SparkSession, d: String): String = {
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"), "graft_sync_corpus_" + new java.io.File(d).getName)
    val marker = new java.io.File(dir, "_SUCCESS")
    if (!marker.exists()) {
      val base = dir.getAbsolutePath
      Tables.documents(s, d).filter(col("doc_id") % 7 =!= 0)
        .select("lang", "source", "doc_id", "text")
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          rows.foreach { r =>
            val p = java.nio.file.Paths.get(base, r.getString(0), r.getString(1),
              r.getLong(2).toString + ".md")
            java.nio.file.Files.createDirectories(p.getParent)
            java.nio.file.Files.write(p, r.getString(3).getBytes("UTF-8"))
          }
        }
      dir.mkdirs()
      marker.createNewFile()
    }
    dir.getAbsolutePath
  }

  /** Deterministic page/line fixture for F16 (the text boundary SURVEY §7
    * draws: header/footer removal runs on pre-extracted `(page, line, font,
    * y)` rows, not on PDF bytes): every document becomes `3 + doc_id % 5`
    * pages of 4 lines — a small-font repeating header at the page top, two
    * body lines mid-page, a small-font "Page N" footer at the bottom. */
  def pdfItems(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
      .withColumn("page", explode(expr("sequence(0, CAST(2 + doc_id % 5 AS INT))")))
      .withColumn("it", explode(array(
        struct(lit(98.0).as("y"), lit(6.0).as("font_size"),
          concat(lit("Confidential "), col("source")).as("line")),
        struct(lit(60.0).as("y"), lit(12.0).as("font_size"),
          expr("substr(text, 1 + page*17, 40)").as("line")),
        struct(lit(40.0).as("y"), lit(12.0).as("font_size"),
          expr("substr(text, 50 + page*11, 40)").as("line")),
        struct(lit(2.0).as("y"), lit(6.0).as("font_size"),
          concat(lit("Page "), (col("page") + 1).cast("string")).as("line")))))
      .select(col("doc_id"), col("page"), col("it.y").as("y"),
        col("it.font_size").as("font_size"), col("it.line").as("line"))

  /** Item-level twin of [[pdfItems]] for F15: every fixture line splits into
    * positioned word items — x advances with word position, y carries ±0.2
    * sub-pixel jitter that rounding must absorb back into one line. The
    * DataFrame's row order is irrelevant by construction (assembly sorts by
    * coordinates), which is exactly what F15 is for. */
  def pdfRawItems(s: SparkSession, d: String): DataFrame =
    pdfItems(s, d)
      .select(col("doc_id"), col("page"), col("y"), col("font_size"),
        posexplode(split(col("line"), " ")).as(Seq("pos", "item")))
      .select(col("doc_id"), col("page"),
        (col("y") + (col("pos") % 3 - 1) * lit(0.2)).as("y"),
        col("font_size"),
        (lit(10.0) + col("pos") * lit(25.0)).as("x"),
        col("item"))

  private val PdfItemsCte =
    """pg AS (SELECT doc_id, source, text,
      |         unnest([p for p in range(0, 3 + CAST(doc_id % 5 AS INT))]) AS page
      |       FROM documents),
      |items AS (
      |  -- DOUBLE casts: DuckDB reads bare x.y literals as DECIMAL, whose
      |  -- median() is discrete (lower-middle) instead of interpolated
      |  SELECT doc_id, page, 98.0::DOUBLE AS y, 6.0::DOUBLE AS font_size,
      |         'Confidential ' || source AS line FROM pg
      |  UNION ALL SELECT doc_id, page, 60.0, 12.0, substr(text, 1 + page*17, 40) FROM pg
      |  UNION ALL SELECT doc_id, page, 40.0, 12.0, substr(text, 50 + page*11, 40) FROM pg
      |  UNION ALL SELECT doc_id, page, 2.0, 6.0, 'Page ' || (page + 1) FROM pg)""".stripMargin

  /** shared flagship ingest pipeline: documents table → chunk rows */
  def ingestedChunks(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      concat(lit("/corpus/"), col("lang"), lit("/"), col("source"),
        lit("/"), col("doc_id").cast("string"), lit(".md")).as("filePath"),
      col("text").as("content"))
    Ingest.buildChunksDF(s, docs, () => new HashedEmbedder(64), "2026-01-01T00:00:00Z")
  }

  val qs: Seq[Q] = Seq(

    // ----- J1/J2: the flagship reconciliation full-outer join -----
    Q("j1_sync_plan",
      (s, d) => SyncPlanner.planDF(diskDF(s, d), dbDF(s, d),
          unobservedPrefixes = Seq("/corpus/zh"))
        .orderBy("key"),
      Some(s"""$SyncCte
              |SELECT key, action, n_spellings FROM plan ORDER BY key""".stripMargin),
      bench = true),

    // ----- J1 distributed gather: the disk manifest comes from a REAL
    // binaryFile scan + content hash on the executors (the 100 TB gather
    // shape — Engine.sync routes through the same reader above its file-count
    // threshold), reconciled by the same single full-outer shuffle. Output is
    // hash-identical to j1_sync_plan: the gather changes WHERE the manifest
    // is computed, never the plan. -----
    Q("j1_sync_plan_distributed",
      (s, d) => {
        val dir = corpusDir(s, d)
        val disk = s.read.format("binaryFile")
          .option("recursiveFileLookup", "true")
          .option("pathGlobFilter", "*.md")
          .load(dir)
          .select(
            concat(lit("/corpus/"),
              regexp_extract(col("path"), "([^/]+/[^/]+/[^/]+\\.md)$", 1)).as("key"),
            md5(col("content")).as("hash"))
        SyncPlanner.planDF(disk, dbDF(s, d),
            unobservedPrefixes = Seq("/corpus/zh"))
          .orderBy("key")
      },
      Some(s"""$SyncCte
              |SELECT key, action, n_spellings FROM plan ORDER BY key""".stripMargin),
      bench = true),

    // ----- A8: sync summary counters (upserted/skipped/pruned/held) -----
    Q("a8_sync_summary",
      (s, d) => SyncPlanner.planDF(diskDF(s, d), dbDF(s, d),
          unobservedPrefixes = Seq("/corpus/zh"))
        .groupBy("action").agg(count(lit(1)).as("cnt"))
        .orderBy("action"),
      Some(s"""$SyncCte
              |SELECT action, count(*) AS cnt FROM plan GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- S6 end-to-end: byte-level TEXT extraction over genuine
    // assembled PDFs whose STRUCTURE varies by doc_id % 16 (plain, Flate,
    // ASCIIHex+Flate chain, RunLength, /ObjStm layout, RC4-encrypted,
    // builtin-encoded Type1C font, AESV2, 2-byte CMap, LZW, PNG-predictor
    // Flate, Form XObject, /Differences, CID-keyed CFF, AESV3, mixed
    // 1+3-byte CMap codespace — ingest/PdfTextFixtures) while the
    // text is invariant: the oracle
    // recomputes the expected lines directly from the documents table, so
    // any filter/ObjStm/decryption regression breaks the hash for a
    // sixteenth of the corpus. Lines are split with SQL substr on BOTH sides (char
    // semantics parity); empty lines are never shown and never expected. -----
    Q("s6_pdf_text_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) =>
          graft.ingest.PdfTextFixtures.textPdf(id, Seq(l0, l1, l2)))
        val parse = udf((b: Array[Byte]) =>
          graft.ingest.PdfTextParser.parseItems(b).map(it => (it.y, it.text)))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("content"))
          .select(col("doc_id"), explode(parse(col("content"))).as("it"))
          .select(col("doc_id"), col("it._1").cast("long").as("ry"),
            col("it._2").as("line"))
          .orderBy(col("doc_id"), col("ry").desc)
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t)
             |SELECT doc_id, CAST(720 - 24 * i AS BIGINT) AS ry, line
             |FROM ln WHERE line <> '' ORDER BY doc_id, ry DESC""".stripMargin)),

    // ----- S6 raster leg: EMBEDDED-IMAGE extraction from the same
    // byte-level PDF walk (PdfImages) — the scanned/figure-image sibling
    // of the text oracle above. The fixture rotation (doc_id % 14) covers
    // raw, Flate, Flate+PNG-Up-predictor, baseline-JPEG /DCTDecode, inline
    // AHx+Flate chain, CCITT G4 /CCITTFaxDecode (half with /Decode [1 0]
    // over the inverted plane — the cancelling inversions pin that the
    // Decode array is APPLIED), generic-region JBIG2, SYMBOL-CODED JBIG2
    // (dictionary + text region, the jbig2enc scanned-text shape), a
    // refused-JPX page whose decodable sibling must survive, REFINED
    // JBIG2 (§6.3: REFAGG single-instance dictionary + per-instance IARI
    // text-region refinement, GRTEMPLATE rotated), and HUFFMAN-dictionary
    // JBIG2 (SDHUFF=1, standard Annex-B tables, §6.5.9 collective bitmaps
    // uncompressed or MMR by corpus half), and /JBIG2Globals JBIG2 (the
    // dictionary shared out-of-band, arithmetic or Huffman by corpus
    // half — the multi-page scanner shape), and CUSTOM-TABLE Huffman
    // JBIG2 (§7.4.13/§B.2 code table segments built from the stream's own
    // DH/DW/BMSIZE values, selections 3 + custom BMSIZE); every pixel is a
    // closed form of (doc_id, x, y), the JPEG class is DC-exact and
    // G4/JBIG2 are lossless, so ONE oracle pins the whole decode surface —
    // filters, predictor, the JPEG entropy/IDCT chain, the G4 2-D coder,
    // the JBIG2 MQ/generic/symbol/text/refinement/Huffman coders, and
    // refusal semantics. -----
    Q("s6_pdf_image_extract",
      (s, d) => {
        val mk = udf((id: Long) => graft.ingest.PdfImageFixtures.imagePdf(id))
        val ext = udf((b: Array[Byte]) =>
          graft.ingest.PdfImages.extract(b).map { im =>
            var sum = 0L
            var i = 0
            while (i < im.luma.length) { sum += im.luma(i); i += 1 }
            (im.codec, im.width, im.height, sum,
              im.luma(math.min(2, im.height - 1) * im.width +
                math.min(1, im.width - 1)))
          })
        Tables.documents(s, d)
          .select(col("doc_id"), mk(col("doc_id")).as("content"))
          .select(col("doc_id"), explode(ext(col("content"))).as("im"))
          .select(col("doc_id"), col("im._1").as("codec"),
            col("im._2").cast("long").as("width"),
            col("im._3").cast("long").as("height"),
            (col("im._2") * col("im._3")).cast("long").as("n_px"),
            col("im._4").as("sum_luma"),
            col("im._5").cast("long").as("probe_luma"))
          .orderBy("doc_id")
      },
      Some("""WITH base AS (SELECT doc_id, doc_id % 256 AS did,
             |    doc_id % 14 AS c FROM documents),
             |dims AS (SELECT *,
             |    CASE WHEN c = 3 THEN 24 + (doc_id % 2) * 8
             |         WHEN c = 5 THEN 8 + doc_id % 5
             |         WHEN c = 7 THEN 8 + doc_id % 6
             |         WHEN c IN (8, 11, 12, 13) THEN 4 * (2 + doc_id % 3)
             |         WHEN c = 10 THEN 3 * (3 + doc_id % 3)
             |         ELSE 4 + doc_id % 5 END AS w,
             |    CASE WHEN c = 3 THEN 16 + (doc_id % 3) * 8
             |         WHEN c = 5 THEN 6 + doc_id % 3
             |         WHEN c IN (7, 8, 10, 11, 12, 13) THEN 5 + doc_id % 4
             |         ELSE 3 + doc_id % 4 END AS h FROM base),
             |px AS (SELECT doc_id, did, c, w, h, xs.x, ys.y,
             |    CASE WHEN c IN (0, 1) THEN
             |        (299 * ((did + xs.x * ys.y) % 256)
             |       + 587 * ((2 * did + 3 * xs.x + 5 * ys.y) % 256)
             |       + 114 * ((did + 7 * xs.x + 13 * ys.y) % 256)) // 1000
             |      WHEN c IN (2, 4, 6, 9) THEN (did + 5 * xs.x + 11 * ys.y) % 256
             |      WHEN c = 5 THEN
             |        CASE WHEN (did + 3 * xs.x + 5 * ys.y) % 7 < 3
             |             THEN 0 ELSE 255 END
             |      WHEN c IN (8, 11, 12, 13) THEN
             |        CASE WHEN (did + 5 * (xs.x % (w // 2)) + 3 * ys.y) % 11 < 4
             |             THEN 0 ELSE 255 END
             |      WHEN c = 10 THEN
             |        CASE WHEN (
             |            CASE WHEN (did + 5 * (xs.x % (w // 3)) + 3 * ys.y) % 11 < 4
             |                 THEN 1 ELSE 0 END
             |          + CASE WHEN xs.x >= w // 3 AND xs.x < 2 * (w // 3)
             |                 AND ((xs.x % (w // 3)) + ys.y) % 5 = 0
             |                 THEN 1 ELSE 0 END
             |          + CASE WHEN xs.x >= 2 * (w // 3)
             |                 AND ((xs.x % (w // 3)) * ys.y) % 7 = 0
             |                 THEN 1 ELSE 0 END) % 2 = 1
             |             THEN 0 ELSE 255 END
             |      ELSE CASE WHEN (did + 5 * xs.x + 3 * ys.y) % 11 < 4
             |                THEN 0 ELSE 255 END
             |      END AS luma
             |  FROM dims,
             |    (SELECT unnest(range(0, 16)) AS x) xs,
             |    (SELECT unnest(range(0, 9)) AS y) ys
             |  WHERE c <> 3 AND xs.x < w AND ys.y < h),
             |blk AS (SELECT doc_id, did, w, h, bx.b AS bx, by.b AS by,
             |    2 * ((did + 5 * bx.b + 7 * by.b) % 100) + 16 AS yv
             |  FROM dims,
             |    (SELECT unnest(range(0, 4)) AS b) bx,
             |    (SELECT unnest(range(0, 4)) AS b) by
             |  WHERE c = 3 AND bx.b < w // 8 AND by.b < h // 8),
             |nond AS (SELECT doc_id,
             |    max(CASE WHEN c = 5 THEN 'ccitt' WHEN c = 6 THEN 'inline'
             |        WHEN c IN (7, 8, 10, 11, 12, 13) THEN 'jbig2' ELSE 'raw' END) AS codec,
             |    max(w) AS w, max(h) AS h, count(*) AS n_px,
             |    CAST(sum(luma) AS BIGINT) AS sum_luma,
             |    CAST(max(CASE WHEN x = 1 AND y = 2 THEN luma END)
             |      AS BIGINT) AS probe_luma
             |  FROM px GROUP BY doc_id),
             |dct AS (SELECT doc_id, 'dct' AS codec, max(w) AS w,
             |    max(h) AS h, CAST(max(w) * max(h) AS BIGINT) AS n_px,
             |    CAST(sum(64 * yv) AS BIGINT) AS sum_luma,
             |    CAST(max(CASE WHEN bx = 0 AND by = 0 THEN yv END)
             |      AS BIGINT) AS probe_luma
             |  FROM blk GROUP BY doc_id)
             |SELECT doc_id, codec, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, n_px, sum_luma, probe_luma
             |FROM nond
             |UNION ALL
             |SELECT doc_id, codec, CAST(w AS BIGINT), CAST(h AS BIGINT),
             |  n_px, sum_luma, probe_luma FROM dct
             |ORDER BY doc_id""".stripMargin)),

    // ----- S8 end-to-end: HTML main-content extraction over assembled
    // pages wrapping the documents text in an <article> surrounded by
    // Readability-class NOISE (nav, unlikely-class sidebar, footer,
    // head/script) — the extractor must keep exactly the heading + text
    // blocks and drop every noise line, so the closed-form oracle breaks
    // if boilerplate removal, main-content selection, entity decoding,
    // or block rendering regress. -----
    Q("s8_html_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) => {
          def esc(x: String) = x.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          // substr windows can start/end mid-gap: rendering trims block
          // edges, so the oracle compares trimmed lines (inner spacing is
          // single in this corpus — pinned by the PDF twin's exact match)
          val art = Seq(l0, l1, l2).filter(_.trim.nonEmpty)
            .map(l => s"<p>${esc(l)}</p>").mkString("\n")
          s"""<html><head><title>Doc $id</title><script>track()</script></head>
             |<body><nav><a href="/">Home</a><a href="/d">Docs</a></nav>
             |<div class="sidebar"><a href="/x">Related link</a></div>
             |<article><h1>Heading $id</h1>
             |$art</article>
             |<footer>Copyright line.</footer></body></html>""".stripMargin
        })
        val parse = udf((h: String) => graft.ingest.HtmlParser.toMarkdown(h))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("html"))
          .select(col("doc_id"),
            posexplode(split(parse(col("html")), "\n\n")).as(Seq("pos", "blk")))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t),
             |ne AS (SELECT doc_id, trim(line) AS line,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
             |  FROM ln WHERE trim(line) <> ''),
             |blocks AS (
             |  SELECT doc_id, 0 AS pos, '# Heading ' || doc_id AS blk
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, rn AS pos, line AS blk FROM ne)
             |SELECT doc_id, CAST(pos AS INT) AS pos, blk
             |FROM blocks ORDER BY doc_id, pos""".stripMargin)),

    // ----- EPUB source end-to-end: OCF zip container → OPF manifest/spine
    // → XHTML chapters → markdown (EpubParser = ZipSource + StAX +
    // HtmlParser composed). Fixtures are REAL EPUBs (stored-first mimetype
    // per OCF §3.3, container.xml indirection, a manifest-only stylesheet
    // that must NOT extract, entity-escaped chapter bodies); the oracle
    // replays the chapter/paragraph layout closed-form. Spine ORDER is
    // load-bearing: chapter 2's paragraphs must follow chapter 1's
    // heading block. -----
    Q("s_epub_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) =>
          graft.ingest.EpubParser.fixture(id, Seq(
            (s"Chapter 1 of $id", Seq(l0).filter(_.trim.nonEmpty)),
            (s"Chapter 2 of $id", Seq(l1, l2).filter(_.trim.nonEmpty)))))
        val parse = udf((b: Array[Byte]) => graft.ingest.EpubParser.toMarkdown(b))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("bytes"))
          .select(col("doc_id"),
            posexplode(split(parse(col("bytes")), "\n\n")).as(Seq("pos", "blk")))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t),
             |par AS (SELECT doc_id, i, trim(line) AS line
             |  FROM ln WHERE trim(line) <> ''),
             |blocks AS (
             |  SELECT doc_id, 0 AS ord, '# Chapter 1 of ' || doc_id AS blk
             |  FROM documents
             |  UNION ALL SELECT doc_id, 1, line FROM par WHERE i = 0
             |  UNION ALL SELECT doc_id, 2, '# Chapter 2 of ' || doc_id
             |  FROM documents
             |  UNION ALL SELECT doc_id, 3 + i, line FROM par WHERE i >= 1)
             |SELECT doc_id,
             |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1 AS INT) AS pos,
             |  blk
             |FROM blocks ORDER BY doc_id, pos""".stripMargin)),

    // ----- RTF source end-to-end: the WordPad/Outlook-era format
    // enterprise corpora are full of. Fixtures are real RTF (header,
    // fonttbl/colortbl/info/\*-generator destinations that must NOT leak
    // into text, escaped specials, \par paragraph structure); the oracle
    // replays the paragraph layout closed-form, so a destination-skip or
    // unescape bug surfaces as extra/garbled blocks. -----
    Q("s_rtf_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) =>
          graft.ingest.RtfParser.fixture(id,
            Seq(l0, l1, l2).filter(_.trim.nonEmpty)))
        val parse = udf((r: String) => graft.ingest.RtfParser.toText(r))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("rtf"))
          .select(col("doc_id"),
            posexplode(split(parse(col("rtf")), "\n\n")).as(Seq("pos", "blk")))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t),
             |ne AS (SELECT doc_id, trim(line) AS line,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS pos
             |  FROM ln WHERE trim(line) <> '')
             |SELECT doc_id, CAST(pos AS INT) AS pos, line AS blk
             |FROM ne ORDER BY doc_id, pos""".stripMargin)),

    // ----- WARC source end-to-end: the container format web-scale
    // corpora actually arrive in (Common Crawl). Each doc becomes a real
    // WARC file (warcinfo + HTTP request + HTTP response records;
    // whole-file gzip on odd ids) whose response wraps the SAME
    // noise-wrapped page as s8_html_extract — so the record walk, HTTP
    // header strip, gzip path, and request/warcinfo skipping are pinned
    // by the identical closed-form block oracle. -----
    Q("s_warc_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) => {
          def esc(x: String) = x.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          val art = Seq(l0, l1, l2).filter(_.trim.nonEmpty)
            .map(l => s"<p>${esc(l)}</p>").mkString("\n")
          val html =
            s"""<html><head><title>Doc $id</title><script>track()</script></head>
               |<body><nav><a href="/">Home</a><a href="/d">Docs</a></nav>
               |<article><h1>Heading $id</h1>
               |$art</article>
               |<footer>Copyright line.</footer></body></html>""".stripMargin
          graft.ingest.WarcSource.fixture(id,
            Seq(s"https://fixture.test/doc/$id" -> html))
        })
        val parse = udf((b: Array[Byte]) =>
          graft.ingest.WarcSource.htmlDocs(b).map(_._2))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("warc"))
          .select(col("doc_id"), explode(parse(col("warc"))).as("md"))
          .select(col("doc_id"),
            posexplode(split(col("md"), "\n\n")).as(Seq("pos", "blk")))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t),
             |ne AS (SELECT doc_id, trim(line) AS line,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn
             |  FROM ln WHERE trim(line) <> ''),
             |blocks AS (
             |  SELECT doc_id, 0 AS pos, '# Heading ' || doc_id AS blk
             |  FROM documents
             |  UNION ALL
             |  SELECT doc_id, rn AS pos, line AS blk FROM ne)
             |SELECT doc_id, CAST(pos AS INT) AS pos, blk
             |FROM blocks ORDER BY doc_id, pos""".stripMargin)),

    // ----- robots.txt evaluation (RFC 9309) — the crawl-pipeline gate
    // before any fetch. Six path/agent modes against a rule set with the
    // RFC's tricky cases (longest-match precedence, Allow-on-tie,
    // $ anchors, wildcard patterns, agent-specific group REPLACING *);
    // the oracle knows each verdict by construction. -----
    Q("s_robots_filter",
      (s, d) => {
        val robots =
          """User-agent: *
            |Disallow: /private/
            |Allow: /private/public/
            |Disallow: /*.pdf$
            |User-agent: graftbot
            |Disallow: /only-for-others/
            |""".stripMargin
        val rules = graft.ingest.RobotsTxt.parse(robots)
        val eval = udf((agent: String, path: String) =>
          rules.allowed(agent, path))
        val mode = expr("CAST(doc_id % 6 AS INT)")
        val agent = when(mode === 5, lit("graftbot")).otherwise(lit("webcrawler"))
        val path = when(mode === 0, lit("/open/page"))
          .when(mode === 1, lit("/private/x"))
          .when(mode === 2, lit("/private/public/x"))
          .when(mode === 3, lit("/docs/file.pdf"))
          .when(mode === 4, lit("/docs/file.pdfx"))
          .otherwise(lit("/private/x"))
        Tables.documents(s, d)
          .select(col("doc_id"), agent.as("agent"), path.as("path"),
            eval(agent, path).as("allowed"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |  CASE WHEN doc_id % 6 = 5 THEN 'graftbot' ELSE 'webcrawler' END AS agent,
             |  CASE CAST(doc_id % 6 AS INT)
             |    WHEN 0 THEN '/open/page' WHEN 1 THEN '/private/x'
             |    WHEN 2 THEN '/private/public/x' WHEN 3 THEN '/docs/file.pdf'
             |    WHEN 4 THEN '/docs/file.pdfx' ELSE '/private/x' END AS path,
             |  CASE CAST(doc_id % 6 AS INT)
             |    WHEN 0 THEN true  -- no rule matches
             |    WHEN 1 THEN false -- Disallow /private/
             |    WHEN 2 THEN true  -- longer Allow /private/public/ wins
             |    WHEN 3 THEN false -- /*.pdf$ anchored wildcard
             |    WHEN 4 THEN true  -- $ anchor rejects the trailing x
             |    ELSE true         -- graftbot group replaces *, no match
             |  END AS allowed
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- WET-file extraction: Common Crawl's pre-extracted text
    // distribution is the SAME WARC container with `conversion` records
    // carrying plain text (no HTTP layer, no HTML). Real WET bytes per
    // doc (warcinfo + one conversion record per line, gzip on odd ids),
    // pinned by the same trimmed-line oracle. -----
    Q("s_wet_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) => {
          val recs = Seq(l0, l1, l2).map(_.trim).filter(_.nonEmpty).zipWithIndex
          val sb = new java.io.ByteArrayOutputStream()
          def rec(typ: String, uri: String, body: String): Unit = {
            val hdr = (s"WARC/1.0\r\nWARC-Type: $typ\r\n" +
              (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
              s"Content-Type: text/plain\r\nContent-Length: ${body.getBytes("UTF-8").length}\r\n\r\n")
            sb.write(hdr.getBytes("ISO-8859-1"))
            sb.write(body.getBytes("UTF-8"))
            sb.write("\r\n\r\n".getBytes("ISO-8859-1"))
          }
          rec("warcinfo", "", s"software: wet-fixture $id")
          recs.foreach { case (l, k) => rec("conversion", s"https://t.test/$id/$k", l) }
          val plain = sb.toByteArray
          if (id % 2 == 0) plain
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(plain); gz.close()
            bos.toByteArray
          }
        })
        val parse = udf((b: Array[Byte]) => graft.ingest.WarcSource.wetDocs(b))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("wet"))
          .select(col("doc_id"), explode(parse(col("wet"))).as("r"))
          .select(col("doc_id"), col("r._1").as("uri"), col("r._2").as("body"))
          .orderBy("doc_id", "uri")
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t),
             |ne AS (SELECT doc_id, trim(line) AS line,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS k
             |  FROM ln WHERE trim(line) <> '')
             |SELECT doc_id,
             |  'https://t.test/' || doc_id || '/' || k AS uri, line AS body
             |FROM ne ORDER BY doc_id, uri""".stripMargin)),

    // ----- TAR source end-to-end: the other container text corpora ship
    // in (dataset dumps as .tar.gz of loose documents). Real ustar
    // archives per doc — checksummed headers, a directory entry and a
    // binary member extraction must skip, gzip on odd ids — with the
    // text members carrying the documents lines. -----
    Q("s_tar_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) =>
          graft.ingest.TarSource.fixture(id,
            Seq(l0, l1, l2).map(_.trim).filter(_.nonEmpty).zipWithIndex
              .map { case (l, k) => s"part$k.md" -> l }))
        val parse = udf((b: Array[Byte]) => graft.ingest.TarSource.textDocs(b))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("tar"))
          .select(col("doc_id"), explode(parse(col("tar"))).as("m"))
          .select(col("doc_id"), col("m._1").as("member"), col("m._2").as("body"))
          .orderBy("doc_id", "member")
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t),
             |ne AS (SELECT doc_id, trim(line) AS line,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS k
             |  FROM ln WHERE trim(line) <> '')
             |SELECT doc_id, 'part' || k || '.md' AS member, line AS body
             |FROM ne ORDER BY doc_id, member""".stripMargin)),

    // ----- ZIP source end-to-end, completing the archive triad
    // (WARC/TAR/ZIP): stream-walked local headers, STORED entries on
    // even ids and DEFLATED on odd so both decompression paths are
    // load-bearing; same member rules and oracle as s_tar_extract. -----
    Q("s_zip_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) =>
          graft.ingest.ZipSource.fixture(id,
            Seq(l0, l1, l2).map(_.trim).filter(_.nonEmpty).zipWithIndex
              .map { case (l, k) => s"part$k.md" -> l }))
        val parse = udf((b: Array[Byte]) => graft.ingest.ZipSource.textDocs(b))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("zip"))
          .select(col("doc_id"), explode(parse(col("zip"))).as("m"))
          .select(col("doc_id"), col("m._1").as("member"), col("m._2").as("body"))
          .orderBy("doc_id", "member")
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t),
             |ne AS (SELECT doc_id, trim(line) AS line,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS k
             |  FROM ln WHERE trim(line) <> '')
             |SELECT doc_id, 'part' || k || '.md' AS member, line AS body
             |FROM ne ORDER BY doc_id, member""".stripMargin)),

    // ----- S7 end-to-end: DOCX byte extraction over assembled real ZIP
    // containers (ingest/DocxFixtures) — heading style, body paragraphs,
    // a uniform pipe table, and a footnote stream per document, so the
    // ZIP walk, StAX parse, table rendering, and note extraction are all
    // pinned by the closed-form oracle on every run. -----
    Q("s7_docx_extract",
      (s, d) => {
        val mk = udf((id: Long, l0: String, l1: String, l2: String) =>
          graft.ingest.DocxFixtures.textDocx(id, Seq(l0, l1, l2)))
        val parse = udf((b: Array[Byte]) => graft.ingest.DocxParser.toMarkdown(b))
        Tables.documents(s, d)
          .select(col("doc_id"),
            mk(col("doc_id"), expr("substr(text, 1, 36)"),
              expr("substr(text, 24, 36)"), expr("substr(text, 47, 36)"))
              .as("bytes"))
          .select(col("doc_id"),
            posexplode(split(parse(col("bytes")), "\n\n")).as(Seq("pos", "blk")))
          .orderBy("doc_id", "pos")
      },
      Some("""WITH ln AS (SELECT doc_id, t.i,
             |    substr(text, 1 + t.i * 23, 36) AS line
             |  FROM documents, (SELECT unnest(range(0, 3)) AS i) t),
             |ne AS (SELECT doc_id, trim(line) AS line,
             |    row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn,
             |    count(*) OVER (PARTITION BY doc_id) AS n
             |  FROM ln WHERE trim(line) <> ''),
             |blocks AS (
             |  SELECT doc_id, 0 AS pos, '# Heading ' || doc_id AS blk
             |  FROM documents
             |  UNION ALL SELECT doc_id, rn, line FROM ne
             |  UNION ALL SELECT doc_id,
             |    coalesce((SELECT max(n) FROM ne WHERE ne.doc_id = documents.doc_id), 0) + 1,
             |    '| K | V |' || chr(10) || '| --- | --- |' || chr(10) ||
             |      '| Doc | ' || doc_id || ' |'
             |  FROM documents
             |  UNION ALL SELECT doc_id,
             |    coalesce((SELECT max(n) FROM ne WHERE ne.doc_id = documents.doc_id), 0) + 2,
             |    'Note ' || doc_id || '.'
             |  FROM documents)
             |SELECT doc_id, CAST(pos AS INT) AS pos, blk
             |FROM blocks ORDER BY doc_id, pos""".stripMargin)),

    // ----- F16 stage 1: block-attribute header/footer hints (center-page
    // sample → median font → small-font items in extreme Y bands), the pure
    // relational half of the reference's 2-stage boundary filter -----
    Q("f16_block_hints",
      (s, d) => graft.ingest.PdfBoundaryFilter.blockHints(pdfItems(s, d))
        .select(col("doc_id"),
          (round(col("median_font"), 4) + 0.0).as("median_font"),
          (round(col("page_height"), 4) + 0.0).as("page_height"),
          array_join(transform(col("header_ys"), _.cast("string")), ",").as("header_ys"),
          array_join(transform(col("footer_ys"), _.cast("string")), ",").as("footer_ys"))
        .orderBy("doc_id"),
      Some(s"""WITH $PdfItemsCte,
              |np AS (SELECT doc_id, count(DISTINCT page) AS n FROM items GROUP BY 1),
              |samp AS (SELECT i.doc_id, i.page
              |  FROM (SELECT DISTINCT doc_id, page FROM items) i JOIN np USING (doc_id)
              |  WHERE np.n >= 3
              |    AND i.page >= greatest(0, np.n // 2 - 2)
              |    AND i.page < least(np.n, greatest(0, np.n // 2 - 2) + 5)),
              |si AS (SELECT it.* FROM items it JOIN samp USING (doc_id, page)),
              |stats AS (SELECT doc_id,
              |    median(CASE WHEN font_size > 0 THEN font_size END) AS median_font,
              |    max(y) AS page_height
              |  FROM si GROUP BY 1),
              |hints AS (SELECT si.doc_id,
              |    coalesce(array_to_string(list_sort(list(DISTINCT CAST(round(y) AS BIGINT))
              |      FILTER (WHERE font_size < median_font * 0.7 AND y > page_height * 0.9)), ','), '')
              |      AS header_ys,
              |    coalesce(array_to_string(list_sort(list(DISTINCT CAST(round(y) AS BIGINT))
              |      FILTER (WHERE font_size < median_font * 0.7 AND y < page_height * 0.1)), ','), '')
              |      AS footer_ys
              |  FROM si JOIN stats USING (doc_id) GROUP BY 1)
              |SELECT s.doc_id, round(s.median_font, 4) + 0.0 AS median_font,
              |       round(s.page_height, 4) + 0.0 AS page_height,
              |       h.header_ys, h.footer_ys
              |FROM stats s JOIN hints h USING (doc_id) ORDER BY s.doc_id""".stripMargin)),

    // ----- F16 end-to-end: stage-2 boundary-sentence detection (median
    // pairwise embedding cosine, hint-boosted threshold) + strip. Embeddings
    // are not SQL-expressible → rows-only; PdfFilterSpec owns the semantics. -----
    Q("f16_strip_boundaries",
      (s, d) => {
        val items = pdfItems(s, d)
        val patterns = graft.ingest.PdfBoundaryFilter.boundaryPatterns(
          items, () => new HashedEmbedder(64))
        graft.ingest.PdfBoundaryFilter.stripBoundaries(items, patterns)
          .select(col("doc_id"), col("page"), length(col("text")).as("text_len"))
          .orderBy("doc_id", "page")
      },
      None),

    // ----- F15: item-level line assembly (reference joinPageItems,
    // pdf-filter.ts:48-69): positioned word items regroup into visual lines
    // by ROUNDED y (±0.2 jitter absorbed), read X-ascending within a line,
    // top-to-bottom across lines. Completes the text-boundary PDF story:
    // F15 assembles (x, y, text) items into lines, F16 filters them. -----
    Q("f15_line_join",
      (s, d) => graft.ingest.PdfBoundaryFilter.assembleLines(pdfRawItems(s, d))
        .select(col("doc_id"), col("page"), col("y").cast("long").as("ry"),
          col("font_size"), col("line"))
        .orderBy(col("doc_id"), col("page"), col("ry").desc),
      Some(s"""WITH $PdfItemsCte,
              |raw AS (SELECT doc_id, page, y + (u.i % 3 - 1) * 0.2 AS y, font_size,
              |         10.0 + u.i * 25.0 AS x, u.item AS item
              |  FROM (SELECT doc_id, page, y, font_size,
              |          unnest([{'i': i, 'item': parts[i + 1]} for i in range(0, len(parts))]) AS u
              |        FROM (SELECT doc_id, page, y, font_size, str_split(line, ' ') AS parts
              |              FROM items) t)),
              |asm AS (SELECT doc_id, page, CAST(round(y) AS BIGINT) AS ry,
              |         string_agg(item, ' ' ORDER BY x, item) AS line,
              |         max(font_size) AS font_size
              |  FROM raw WHERE item <> '' GROUP BY 1, 2, 3)
              |SELECT doc_id, page, ry, font_size, line FROM asm
              |ORDER BY doc_id, page, ry DESC""".stripMargin)),

    // ----- §3.2 ingestion dataflow: parse → chunk → embed → chunk rows -----
    // (Max-Min chunking + hashed embeddings are not SQL-expressible — driver
    // records the rows-only check; ScalaTest owns the semantics.)
    Q("rag_ingest_chunks",
      (s, d) => ingestedChunks(s, d)
        .select(col("id"), col("filePath"), col("chunkIndex"),
          length(col("text")).as("text_len"), size(col("vector")).as("dim"),
          col("fileTitle"), col("contentHash"), col("timestamp"))
        // persist the slim projection BEFORE the contractual sort: the
        // global orderBy's range-sampling pass otherwise iterates every
        // row of the child, re-running the whole chunk+embed pipeline a
        // second time per query (r17 attribution). Values unchanged —
        // same rows, same order. HARNESS-SCOPE release contract as
        // rag_e2e_search's persist (Verify/Bench run releaseAllBlocks
        // after each query).
        .persist()
        .orderBy("filePath", "chunkIndex"),
      None,
      bench = true),

    // ----- flagship end-to-end: ingest → embed query → hybrid search -----
    Q("rag_e2e_search",
      (s, d) => {
        // EAGER localCheckpoint: hybrid search reads the chunk table
        // twice (the candidate top-k, then the ad-hoc BM25 pass over the
        // hit files), and without it each read would recompute the full
        // chunk+embed pipeline. The checkpoint materializes the pipeline
        // ONCE and both reads scan the leaf; it also truncates the plan
        // each read would re-embed at analysis time. In production the
        // ingest output is a stored table; the checkpoint is the
        // in-session twin. Same rows.
        // The checkpoint belongs to Seam.session: Verify/Bench run
        // releaseAllBlocks (which drops checkpoint RDD blocks too) after
        // each query; the library path (api/Engine) stores chunks and
        // releases its own caches.
        val chunks = Seam.session.checkpoint(ingestedChunks(s, d))
        val embedder = new HashedEmbedder(64)
        val qv = typedLit(embedder.embed("spark join stream table").toSeq)
        HybridSearch.search(chunks, qv,
          HybridSearch.Params(limit = 10, weight = 0.6,
            queryTokens = Seq("spark", "join", "stream", "table"),
            grouping = Some("related")))
          .select(col("filePath"), col("chunkIndex"),
            round(col("score"), 4).as("score"),
            round(col("boosted"), 4).as("boosted"))
      },
      None,
      bench = true),

    // ----- incrementally maintained materialized view over the versioned
    // chunk table (store/MaterializedView): documents land as chunk rows in
    // 8 logical files; files 0–2 then take an editing batch (deletes at
    // doc_id%7==0, text revisions at doc_id%5==0). The per-file rollup is
    // refreshed INCREMENTALLY — the change feed names the 3 touched
    // groups, only their buckets are re-read (range-pruned), untouched
    // groups carry forward. The final view state is layout-invariant, so
    // the oracle replays the edit rule over the source table directly.
    // Store build is cached per sf dir and store layout (`ChunkStore.Layout`:
    // a cache built in another layout is never opened); the first run exercises
    // full→incremental, later runs hit the noop path and read the same
    // committed view snapshot. -----
    Q("mv_incremental",
      (s, d) => {
        val suffix = d.replaceAll("[^a-zA-Z0-9]", "_")
        val root = s"${System.getProperty("java.io.tmpdir")}/graft-mv-" +
          s"${graft.store.ChunkStore.Layout}-$suffix"
        val store = new graft.store.ChunkStore(s, s"$root/table")
        val mv = new graft.store.MaterializedView(s, store, s"$root/view",
          "filePath", Seq(
            count(lit(1)).as("n_chunks"),
            sum(length(col("text"))).cast("long").as("total_chars"),
            min(col("contentHash")).as("min_hash")))
        val done = new java.io.File(s"$root/_built")
        if (!done.exists()) {
          val docs = Tables.documents(s, d)
            .select(col("doc_id"), col("text"))
            .withColumn("fp", concat(lit("corpus/f"),
              (col("doc_id") % 8).cast("string"), lit(".txt")))
          def chunkRows(part: DataFrame): DataFrame = part.select(
            concat(col("fp"), lit("#"), col("doc_id").cast("string")).as("id"),
            col("fp").as("filePath"),
            col("doc_id").cast("int").as("chunkIndex"),
            col("text"),
            array().cast("array<float>").as("vector"),
            struct(col("fp").as("fileName"),
              length(col("text")).cast("long").as("fileSize"),
              lit("txt").as("fileType")).as("metadata"),
            lit(null).cast("string").as("fileTitle"),
            md5(col("text")).as("contentHash"),
            lit("2026-01-01T00:00:00Z").as("timestamp"))
          (0 until 8).foreach { f =>
            store.upsertFile(s"corpus/f$f.txt",
              chunkRows(docs.filter(col("doc_id") % 8 === f)))
          }
          mv.refresh() // full build pins the base view snapshot
          val edited = docs
            .filter(col("doc_id") % 8 <= 2 && col("doc_id") % 7 =!= 0)
            .withColumn("text", when(col("doc_id") % 5 === 0,
              concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
          (0 to 2).foreach { f =>
            store.upsertFile(s"corpus/f$f.txt",
              chunkRows(edited.filter(col("doc_id") % 8 === f)))
          }
          done.createNewFile()
        }
        mv.refresh().df
          .select(col("filePath").as("file_path"), col("n_chunks"),
            col("total_chars"), col("min_hash"))
          .orderBy("file_path")
      },
      Some("""WITH base AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 8 <= 2 AND doc_id % 5 = 0
             |         THEN text || ' [rev2]' ELSE text END AS t
             |  FROM documents
             |  WHERE NOT (doc_id % 8 <= 2 AND doc_id % 7 = 0))
             |SELECT 'corpus/f' || (doc_id % 8) || '.txt' AS file_path,
             |  count(*) AS n_chunks,
             |  CAST(sum(length(t)) AS BIGINT) AS total_chars,
             |  min(md5(t)) AS min_hash
             |FROM base GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
