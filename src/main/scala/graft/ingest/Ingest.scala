package graft.ingest

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.chunker.MaxMinChunker
import graft.core.ChunkSchema.{ChunkMetadata, ChunkRow}
import graft.embed.Embedder

/** The ingestion dataflow (reference §3.2: parse → chunk → embed → rows).
  *
  * Chunking + embedding run inside `mapPartitions`: one embedder instance per
  * partition, each document processed sequentially (Max-Min is
  * order-dependent per document — SURVEY §7 "what's hard" #1). Documents are
  * the unit of parallelism, which is the right grain at 100 TB: a corpus is
  * billions of docs × KBs, not one doc × TBs.
  */
object Ingest {

  /** `content` is what gets chunked/titled — extracted text for binary
    * formats (PDF), the file text otherwise. `rawHash` overrides the stored
    * contentHash for binary formats, where change detection must hash the
    * FILE (what the sync manifest sees), not the extraction. `titleOverride`
    * carries format metadata titles (PDF Info /Title) into F11. */
  final case class Doc(filePath: String, content: String,
                       rawHash: Option[String] = None,
                       titleOverride: Option[String] = None)

  class NoChunksError(filePath: String)
    extends RuntimeException(s"document produced zero chunks: $filePath")

  def sha256Hex(content: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(content.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** bytes → UTF-8 string with U+FFFD replacement — EXACT parity with the
    * driver path's `new String(bytes, UTF_8)`. SQL `decode(..., 'UTF-8')`
    * under ANSI mode THROWS on malformed sequences, which every binary
    * format (PDF) triggers — manifest hashing and batched ingest must use
    * this instead so binary and text files hash identically on both paths. */
  val utf8Lossy: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((b: Array[Byte]) =>
      if (b == null) null else new String(b, StandardCharsets.UTF_8))

  /** SHA-256 of the utf8-lossy round-trip (`sha256(encode(utf8Lossy(b)))`)
    * WITHOUT materializing the decoded String or the re-encoded byte array:
    * the file bytes stream through a fixed 8 KiB decode/encode buffer pair
    * into the digest. The round-trip is not identity — malformed sequences
    * become U+FFFD (3 bytes) — so the transform must run, but only the
    * source bytes stay resident (they already are: they're the column
    * value). Byte-exact parity with `new String(b, UTF_8).getBytes(UTF_8)`
    * is pinned by IngestSpec, including multi-byte sequences straddling the
    * buffer boundary (the decoder's underflow state carries them over). */
  def utf8LossyHashHex(b: Array[Byte]): String = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val enc = StandardCharsets.UTF_8.newEncoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val md = MessageDigest.getInstance("SHA-256")
    val in = java.nio.ByteBuffer.wrap(b)
    val chars = java.nio.CharBuffer.allocate(8192)
    val out = java.nio.ByteBuffer.allocate(8192)
    def drainChars(endOfInput: Boolean): Unit = {
      chars.flip()
      var encRes = enc.encode(chars, out, endOfInput)
      out.flip(); md.update(out); out.clear()
      while (encRes.isOverflow) {
        encRes = enc.encode(chars, out, endOfInput)
        out.flip(); md.update(out); out.clear()
      }
      chars.compact()
    }
    var decRes = dec.decode(in, chars, false)
    drainChars(endOfInput = false)
    while (decRes.isOverflow) {
      decRes = dec.decode(in, chars, false)
      drainChars(endOfInput = false)
    }
    decRes = dec.decode(in, chars, true)
    drainChars(endOfInput = false)
    while (decRes.isOverflow) {
      decRes = dec.decode(in, chars, true)
      drainChars(endOfInput = false)
    }
    dec.flush(chars)
    drainChars(endOfInput = true)
    var flushRes = enc.flush(out)
    out.flip(); md.update(out); out.clear()
    while (flushRes.isOverflow) {
      flushRes = enc.flush(out)
      out.flip(); md.update(out); out.clear()
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** column form of [[utf8LossyHashHex]] — drop-in for
    * `sha2(encode(utf8Lossy(content), "UTF-8"), 256)` on the manifest /
    * rawHash paths (Engine, PdfIngest), where only the hash is needed and
    * the decoded text is not. */
  val utf8LossyHash: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((b: Array[Byte]) =>
      if (b == null) null else utf8LossyHashHex(b))

  /** Deterministic chunk id (name-based UUID over filePath+index+timestamp —
    * the reference uses randomUUID, `src/ingest/compute.ts:129`; determinism
    * is strictly better for a re-runnable batch engine). */
  def chunkId(filePath: String, chunkIndex: Int, timestamp: String): String =
    UUID.nameUUIDFromBytes(s"$filePath#$chunkIndex@$timestamp"
      .getBytes(StandardCharsets.UTF_8)).toString

  /** assemble full chunk rows for one document (shared by the batch and
    * streaming ingest paths) */
  def assembleRows(doc: Doc, chunks: Seq[MaxMinChunker.TextChunk],
                   vectors: Seq[Array[Float]], timestamp: String): Iterator[ChunkRow] = {
    val content = Option(doc.content).getOrElse("")
    val title = doc.titleOverride.map(TitleExtractor.Title(_, "metadata"))
      .getOrElse(TitleExtractor.forFile(content, doc.filePath))
    val hash = doc.rawHash.getOrElse(sha256Hex(content))
    val fileName = doc.filePath.substring(doc.filePath.lastIndexOf('/') + 1)
    val fileType = doc.filePath.substring(doc.filePath.lastIndexOf('.') + 1)
    chunks.iterator.zip(vectors.iterator).map { case (c, v) =>
      ChunkRow(
        id = chunkId(doc.filePath, c.index, timestamp),
        filePath = doc.filePath,
        chunkIndex = c.index,
        text = c.text,
        vector = v,
        metadata = ChunkMetadata(fileName, content.length.toLong, fileType),
        fileTitle = Some(title.value),
        contentHash = Some(hash),
        timestamp = timestamp)
    }
  }

  /** Per-format chunk-time parse (S7): a DOCX doc's content is the markdown
    * [[DocxParser.toMarkdown]] produced — running it through
    * [[graft.chunker.TableBlockParser]] here yields the atomic ranges that
    * keep table rows indivisible (reference `docx-parser.ts:259-274`). The
    * ONE implementation of the atomic semantics, shared by the driver loop,
    * the batched executor, and streaming ingest. */
  def parsedFor(doc: Doc): (String, Seq[graft.chunker.SentenceSplitter.AtomicRange]) = {
    val content = Option(doc.content).getOrElse("")
    if (doc.filePath.toLowerCase.endsWith(".docx")) {
      val p = graft.chunker.TableBlockParser.parse(content)
      (p.content, p.ranges)
    } else (content, Seq.empty)
  }

  /** F20 caption record riding a document into chunk assembly:
    * (page, post-processed caption text, pre-wrap). */
  final case class CapRec(page: Int, caption: String)

  /** One document → its full chunk rows: parse-aware chunking, then F20
    * caption chunks appended with CONTINUING indexes and the
    * `[Visual content on page N: …]` wrapper (reference
    * `src/ingest/visual.ts:151-159` — captions become dedicated chunks so
    * the semantic chunker can't split their internal structure). Empty
    * result = zero-chunk document (the caller decides fail-fast vs skip).
    * A text-empty PDF whose pages captioned still produces rows — the
    * reference's caption-only ingest leg. THE one implementation of
    * chunk-row assembly, shared by the driver loop, the batched sync
    * executor, and streaming ingest, so visual mode cannot drift between
    * paths. */
  def chunkAndCaption(doc: Doc, captions: Seq[CapRec], embedder: Embedder,
                      timestamp: String,
                      cfg: MaxMinChunker.Config = MaxMinChunker.Config()): Seq[ChunkRow] = {
    val (content, ranges) = parsedFor(doc)
    val chunks = MaxMinChunker.chunkText(content, embedder.embedBatch,
      atomicRanges = ranges, cfg = cfg)
    val all = chunks ++ captions.sortBy(_.page).zipWithIndex.map {
      case (c, i) => MaxMinChunker.TextChunk(
        VisualCaption.wrap(VisualCaption.PageCaption(c.page, c.caption)),
        chunks.length + i)
    }
    if (all.isEmpty) Seq.empty
    else assembleRows(doc.copy(content = content), all,
      embedder.embedBatch(all.map(_.text)), timestamp).toSeq
  }

  /** docs(filePath, content) → full chunk rows (ChunkSchema). One shared
    * timestamp per ingest batch (reference `src/ingest/compute.ts:122,142`). */
  def buildChunks(docs: Dataset[Doc], mkEmbedder: () => Embedder,
                  timestamp: String,
                  cfg: MaxMinChunker.Config = MaxMinChunker.Config()): Dataset[ChunkRow] = {
    import docs.sparkSession.implicits._
    // chunk+embed is per-document CPU whose parallelism is whatever split
    // count the SCAN produced — a small or freshly-compacted corpus can
    // arrive as one 128 MB-class split, serializing the whole pipeline
    // onto one core while the rest idle (r18: the sf tables are single
    // small files → ONE task ran every doc). When the input under-splits
    // the available cores, spread the docs first: the shuffled payload is
    // exactly the under-split input, small by construction — a corpus big
    // enough to make this shuffle expensive already splits past the core
    // count and takes the no-shuffle branch. Scale-adaptive (derived from
    // the actual split count vs the session's parallelism), not a local
    // constant; row placement is value-neutral (chunking is per-document,
    // ids are deterministic, callers own any contractual ordering).
    // streaming sources can't be probed for a batch partition count
    // (toRdd asserts batch execution) and their micro-batch parallelism
    // is the trigger's business — the spread applies to BATCH inputs only
    val cores = docs.sparkSession.sparkContext.defaultParallelism
    val spread =
      if (!docs.isStreaming && underSplit(docs, cores)) docs.repartition(cores)
      else docs
    spread.mapPartitions { it =>
      val embedder = mkEmbedder()
      it.flatMap(doc => chunkAndCaption(doc, Seq.empty, embedder, timestamp, cfg))
    }
  }

  /** whether a batch input splits into fewer than `cores` partitions. An
    * input whose plan has an exchange or a subquery already runs at
    * `spark.sql.shuffle.partitions` splits, and probing it would execute
    * those stages once here and again in the caller's action (AQE stages
    * are not shared across query executions), so it counts as split.
    * Otherwise the split count is the leaf scans' carried through narrow
    * operators, which `toRdd` reports without running a job. */
  private def underSplit(docs: Dataset[_], cores: Int): Boolean = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    val staged = docs.queryExecution.executedPlan.exists {
      case _: Exchange | _: AdaptiveSparkPlanExec => true
      case p => p.subqueries.nonEmpty
    }
    !staged && docs.queryExecution.toRdd.getNumPartitions < cores
  }

  /** Visual-mode batched builder: docs carry their page captions
    * ((filePath, content, rawHash, titleOverride, captions)); text and
    * caption chunks assemble in the same task via [[chunkAndCaption]] —
    * identical rows to the driver loop's visual path by construction. */
  def buildVisualChunksDF(spark: SparkSession, docs: DataFrame,
                          mkEmbedder: () => Embedder, timestamp: String): DataFrame = {
    import spark.implicits._
    docs.select("filePath", "content", "rawHash", "titleOverride", "captions")
      .as[(String, String, Option[String], Option[String], Seq[CapRec])]
      .mapPartitions { it =>
        val embedder = mkEmbedder()
        it.flatMap { case (p, content, hash, title, caps) =>
          // null captions = text-only file on the full-outer join's left leg
          chunkAndCaption(Doc(p, content, hash, title),
            Option(caps).getOrElse(Seq.empty), embedder, timestamp)
        }
      }.toDF()
  }

  /** DataFrame convenience: df(filePath, content[, rawHash, titleOverride])
    * → chunk rows; the optional override columns default to null */
  def buildChunksDF(spark: SparkSession, docs: DataFrame, mkEmbedder: () => Embedder,
                    timestamp: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    def optCol(n: String) =
      if (docs.columns.contains(n)) col(n) else lit(null).cast("string").as(n)
    buildChunks(
      docs.select(col("filePath"), col("content"),
        optCol("rawHash"), optCol("titleOverride")).as[Doc],
      mkEmbedder, timestamp).toDF()
  }
}
