package graft.api

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Base64

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ChunkSchema, PathKeys, ScopeMatch, Seam}
import graft.embed.{Embedder, HashedEmbedder}
import graft.ingest.{DirectoryScanner, Ingest}
import graft.search.{Bm25, HybridSearch, VectorSearch}
import graft.store.ChunkStore
import graft.sync.SyncPlanner

/** Driver-side facade mirroring the reference's tool surface
  * (`src/server/tool-definitions.ts:10-202`): query_documents, ingest_file,
  * ingest_data, sync, list_files, delete_document, read_chunk_neighbors,
  * get_status — each backed by the Spark operators. A user of the reference
  * switches by pointing this at their roots; protocol serving (MCP stdio,
  * job polling) stays an external shell around these calls, per
  * BASELINE.json's "serving requires external system".
  */
final class Engine(
    spark: SparkSession,
    storePath: String,
    roots: Seq[String],
    mkEmbedder: () => Embedder = () => new HashedEmbedder(64),
    annLists: Int = 16,
    annProbes: Int = 8,
    annThreshold: Long = Engine.AnnCorpusThreshold,
    mkCaptioner: Option[() => graft.ingest.Captioner] = None) {

  import spark.implicits._

  val store = new ChunkStore(spark, storePath)
  private val rawDataDir = storePath + "-raw-data"
  /** persisted FTS index, refreshed once per mutation batch (the
    * reference's optimize() cadence — never once per file): the buckets
    * whose chunk entries changed are rebuilt */
  private[graft] val ftsIndex =
    new graft.store.FtsIndexStore(spark, storePath + "-fts")
  /** persisted IVF ANN index on the same refresh cadence — the reference
    * keeps its vector index inside the store and queries it with an ANN
    * scan, never a full scan (`src/vectordb/index.ts:352-353`). Recall is
    * tuned by annProbes/annLists. Below `annThreshold` chunks (the count
    * the chunk store's manifest records) a refresh trains nothing and drops
    * the index, and queries brute-force (exact, and cheaper than probe
    * overhead at tool scale). */
  private[graft] val annIndex =
    new graft.store.AnnIndexStore(spark, storePath + "-ann")
  /** Distributed exact-path binary read — replaces
    * `spark.read.format("binaryFile").load(paths: _*)` on the sync paths.
    * Passing N explicit paths as LISTING ROOTS makes InMemoryFileIndex
    * stat every path through the FileIndex machinery: IngestStress (r16,
    * 100k files) measured ~60 s of "Listing leaf files and directories
    * for 100000 paths" jobs per sync, plus partition-metadata cache
    * thrashing — at crawl scale the listing alone would dominate. The
    * sync planner already HOLDS the exact file list (file-scale by the
    * DriverProbe contract), so ship it to the executors and read bytes
    * directly: zero listing jobs. (Sorting keeps task membership
    * deterministic and groups same-directory files per task; it buys no
    * HDFS-style block locality — these are whole-file reads.)
    * Skew contract: tasks pack ~64+ files by COUNT, not size — the
    * engine's corpus is document files (KB–MB); a multi-GB outlier rides
    * one task, same as one binaryFile split would carry it.
    *
    * Filesystem contract (r16 ADVICE): schemeless paths are read with
    * java.nio on the executor — correct only when executors share the
    * driver's filesystem view (local master, or an identical shared
    * mount). Scheme-qualified URIs (file://, hdfs://, s3a://) go through
    * Hadoop FileSystem and work on any deployment. On a non-local master
    * a schemeless batch fails HERE, at plan time, with the remedy in the
    * message — not as a NoSuchFileException mid-task. */
  private def readFilesBinary(paths: Seq[String]): DataFrame = {
    import spark.implicits._
    if (!spark.sparkContext.isLocal && paths.exists(!_.contains(":/")))
      throw new IllegalArgumentException(
        "readFilesBinary got schemeless local paths on a non-local master; " +
          "executors cannot be assumed to share the driver's filesystem — " +
          "pass scheme-qualified URIs (file:// for a shared mount, hdfs://, s3a://)")
    // ~128 files per task: the downstream parse+chunk+embed work rides
    // these partitions, so task granularity bounds the straggler tail —
    // IngestStress at 200k with a 4×cores cap packed 1,400 text files
    // per task (64 s tasks vs p95 2.8 s); ~128/task keeps tasks in the
    // seconds band. Floor = cluster parallelism, ceiling 4096 bounds the
    // task array for very large batches (32k+ files/task only then).
    val slices = math.max(1, math.max(spark.sparkContext.defaultParallelism,
      math.min(paths.size / 128 + 1, 4096)))
    // scheme-qualified reads need the SESSION's Hadoop conf on executors
    // (s3a credentials etc. live in spark.hadoop.*, which a bare
    // `new Configuration()` executor-side would never see); ship its
    // effective entries only when a qualified URI is actually present so
    // the local fast path stays closure-free, and rebuild once per
    // PARTITION, not per file
    val bconf =
      if (paths.exists(_.contains(":/"))) {
        import scala.jdk.CollectionConverters._
        Some(spark.sparkContext.broadcast(
          spark.sparkContext.hadoopConfiguration.iterator().asScala
            .map(e => (e.getKey, e.getValue)).toArray))
      } else None
    spark.sparkContext.parallelize(paths.sorted, slices)
      .mapPartitions { it =>
        val conf = bconf.map { b =>
          val c = new org.apache.hadoop.conf.Configuration(false)
          b.value.foreach { case (k, v) => c.set(k, v) }
          c
        }
        it.map(p => (p, Engine.readFileBytes(p, conf)))
      }
      .toDF("path", "content")
  }

  /** run `body` under a job description so engine phases attribute cleanly
    * in the UI / listener tooling (IngestStress job table); restores the
    * PREVIOUS description (r16 ADVICE: restoring null silently cleared any
    * ambient caller-set description, and broke nesting). Every Engine job
    * runs under one: mutations as `graft sync: …`, `graft ingest: parse`,
    * `graft store: upsert|delete`, `graft index: …`; reads as
    * `graft query: candidates|text|bm25`, `graft neighbors` and
    * `graft catalog`. */
  private def describing[T](desc: String)(body: => T): T = {
    val prev = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(prev)
  }

  /** refresh both indexes: the FTS index rebuilds only the buckets whose
    * chunk entries changed, in one job. The ANN index routes on the chunk
    * count the manifest records: below `annThreshold` it is dropped with no
    * Spark job, above it rebuilt. */
  private def refreshIndexes(): Unit = {
    describing("graft index: FTS refresh") { ftsIndex.refresh(store) }
    describing("graft index: ANN refresh") {
      if (store.status()._1 < annThreshold) annIndex.drop()
      else annIndex.rebuild(store.read(), annLists)
    }
  }
  private def embedder: Embedder = mkEmbedder()

  final case class IngestResult(filePath: String, chunkCount: Long,
                                fileTitle: String, timestamp: String)
  final case class SyncSummary(upserted: Long, skipped: Long, empty: Long,
                               pruned: Long, held: Long)

  private def now(): String = java.time.Instant.now().toString

  // ---- query_documents (reference §3.1) ----
  /** Spark runs only the two corpus-scale reads: the candidate
    * top-(2·limit), collected once, and — when the query has tokens and
    * candidates survive grouping — one BM25 pass over the index for the hit
    * files. The stages between them run on the driver
    * ([[HybridSearch.searchHits]]), and the result comes back as a local
    * DataFrame, so collecting it runs no job. */
  def queryDocuments(query: String, limit: Int = 10,
                     scope: Seq[String] = Seq.empty,
                     grouping: Option[String] = None,
                     maxDistance: Option[Double] = None,
                     maxFiles: Option[Int] = None,
                     weight: Double = HybridSearch.DefaultWeight): DataFrame = {
    require(query.trim.nonEmpty, "query must be non-empty")
    require(limit >= 1 && limit <= 20, "limit must be in 1..20") // ref: index.ts:346-348
    val chunks0 = store.read()
    // scope pushdown below the scoring projection (ref: index.ts:356-360)
    val chunks = if (scope.isEmpty) chunks0
      else chunks0.filter(ScopeMatch.inScope(col("filePath"), scope))
    val qArr = embedder.embed(query)
    val tokens = "[a-z0-9]+".r.findAllIn(query.toLowerCase).toSeq.distinct
    val k = limit * HybridSearch.CandidateMultiplier
    // ANN route (SURVEY §7 step 7): above the corpus threshold an unscoped
    // query's candidate top-(2·limit) comes from the persisted IVF index —
    // only the nProbe nearest list partitions are read, and the probed keys
    // fetch their text back from the chunk table. A scoped query takes the
    // exact scan, whose scope filter runs below the top-k: the nearest
    // lists may hold no in-scope chunk, so probing first could return fewer
    // than `limit` rows while in-scope chunks exist. Both paths score with
    // the same expression.
    val candidates = describing("graft query: candidates") {
      if (scope.isEmpty && annIndex.exists && annIndex.rowCount() >= annThreshold) {
        val probed = annIndex.probe(qArr, annProbes, k).collect()
        describing("graft query: text")(withText(chunks, probed))
      } else VectorSearch.topK(chunks, typedLit(qArr.toSeq), k,
          tiebreak = Seq("filePath", "chunkIndex"))
        .select("filePath", "chunkIndex", "text", "fileTitle", "score").collect().toSeq
        .map(r => HybridSearch.Hit(r.getString(0), r.getInt(1), r.getString(2),
          r.getString(3), r.getDouble(4)))
    }
    graft.core.DriverProbe.record("query_candidates", candidates.size.toLong, k.toLong)
    // BM25 stats are GLOBAL regardless of scope — the reference's FTS index
    // is corpus-wide and scope only restricts which rows come back — so the
    // ad-hoc fallback (no persisted index) scores the UNSCOPED table too,
    // keeping indexed and index-less scoring identical
    def keywordScores(files: Seq[String]): Map[(String, Int), Double] =
      describing("graft query: bm25")(Bm25.scoreTerms(ftsIndex.queryTerms(tokens, files)
        .getOrElse(Bm25.adHocTerms(chunks0, tokens, files)), tokens))
    val hits = HybridSearch.searchHits(candidates,
      HybridSearch.Params(limit = limit, maxDistance = maxDistance,
        weight = weight, maxFiles = maxFiles, grouping = grouping,
        queryTokens = tokens),
      keywordScores)
    spark.createDataFrame(hits.map(h =>
      Row(h.filePath, h.chunkIndex, h.text, h.fileTitle, h.score, h.boosted)).asJava,
      Engine.QuerySchema)
  }

  /** candidate rows for probed (filePath, chunkIndex, score) keys, in probe
    * order: one chunk-table read filtered to exactly those keys fetches
    * their text and title. A key the table no longer holds drops out, as
    * an inner join would drop it. */
  private def withText(chunks: DataFrame, probed: Array[Row]): Seq[HybridSearch.Hit] =
    if (probed.isEmpty) Seq.empty
    else {
      val keys = probed.toSeq.map(p => (p.getString(0), p.getInt(1)))
      val text = chunks.filter(ChunkSchema.keyIn(keys))
        .select("filePath", "chunkIndex", "text", "fileTitle")
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r).toMap
      probed.toSeq.flatMap(p => text.get((p.getString(0), p.getInt(1))).map(t =>
        HybridSearch.Hit(t.getString(0), t.getInt(1), t.getString(2), t.getString(3),
          p.getDouble(2))))
    }

  // ---- ingest_file (reference §3.2) ----
  /** Single-document ingest computes chunks + vectors ONCE, driver-side
    * (one document is below Spark's parallelism grain; the distributed path
    * is Ingest.buildChunks for corpora). The path must be inside the
    * configured roots or the managed raw-data dir — an out-of-root document
    * would be silently pruned by the next sync (reference validateFilePath
    * containment, parser/index.ts:165-235). */
  def ingestFile(path: String): IngestResult = mutationGuard.synchronized {
    val r = ingestFileNoRefresh(path)
    refreshIndexes()
    r
  }

  /** ingest without the per-call index refresh — sync batches many of these
    * and refreshes ONCE at the end (ref skipOptimize, server/index.ts:546-549) */
  private def ingestFileNoRefresh(path: String): IngestResult = {
    val spelled = PathKeys.storageSpelling(path)
    require(spelled.startsWith(rawDataDir) || containedInRoots(spelled),
      s"path outside configured roots: ${PathKeys.displayPath(spelled)}")
    val bytes = Files.readAllBytes(Paths.get(spelled))
    // S6: PDFs parse byte-level (PdfTextParser → F15/F16 pipeline); the doc
    // carries the RAW-bytes hash so sync change detection stays consistent
    // with the manifest, and the Info /Title when present
    val doc: Ingest.Doc =
      if (graft.ingest.PdfIngest.isPdf(spelled)) {
        import spark.implicits._
        val raw = Seq((spelled, bytes)).toDF("filePath", "content")
        val docs = describing("graft ingest: parse")(
          graft.ingest.PdfIngest.pdfDocsDF(spark, raw, mkEmbedder).as[Ingest.Doc].collect())
        // one input file → at most one doc row (DriverProbe: a future
        // pdfDocsDF edit that fans out per-page rows fails here, loudly)
        graft.core.DriverProbe.record("ingest_pdf_doc", docs.length, 1L)
        docs.headOption
          .getOrElse(Ingest.Doc(spelled, "",
            Some(Ingest.sha256Hex(new String(bytes, StandardCharsets.UTF_8))), None))
      } else if (spelled.toLowerCase.endsWith(".docx"))
        // S7: unzip + walk document.xml → markdown; raw-bytes hash parity
        // with the sync manifest, Dublin Core title when present
        Ingest.Doc(spelled, graft.ingest.DocxParser.toMarkdown(bytes),
          Some(Ingest.sha256Hex(new String(bytes, StandardCharsets.UTF_8))),
          graft.ingest.DocxParser.docTitle(bytes))
      else Ingest.Doc(spelled, new String(bytes, StandardCharsets.UTF_8))
    val ts = now()
    val embedder0 = mkEmbedder()
    // F20: with a captioner configured, a PDF's visual-candidate pages
    // (F21) render and caption from the RAW bytes; chunkAndCaption appends
    // them as dedicated chunks with continuing indexes
    val captions: Seq[Ingest.CapRec] =
      if (graft.ingest.PdfIngest.isPdf(spelled))
        mkCaptioner.map(f => graft.ingest.VisualCaption.captionDoc(bytes, f())
          .map(c => Ingest.CapRec(c.page, c.text))).getOrElse(Seq.empty)
      else Seq.empty
    val rows = Ingest.chunkAndCaption(doc, captions, embedder0, ts)
    // zero-chunk fail-fast BEFORE any destructive step
    // (ref: server/index.ts:635-642). A text-empty PDF with captioned
    // pages ingests caption-only (ref visual.ts builds caption chunks
    // regardless of text-chunk count).
    if (rows.isEmpty) throw new Ingest.NoChunksError(spelled)
    mutationGuard.synchronized(
      describing("graft store: upsert")(store.upsertFile(spelled, rows.toDF())))
    val title = doc.titleOverride.getOrElse(
      graft.ingest.TitleExtractor.forFile(doc.content, spelled).value)
    IngestResult(spelled, rows.size.toLong, title, ts)
  }

  // ---- ingest_data (reference server/index.ts:731-797) ----
  def normalizeSource(source: String): String =
    if (source.startsWith("http://") || source.startsWith("https://"))
      source.replaceAll("[?#].*$", "")
    else source

  def base64url(s: String): String =
    Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  def decodeRawDataSource(path: String): Option[String] =
    Engine.decodeRawData(rawDataDir, path)

  def ingestData(content: String, title: String, source: String,
                 format: String = "md"): IngestResult = {
    val normalized = normalizeSource(source)
    // HTML sources go through main-content extraction → markdown before
    // persisting, mirroring the Readability+Turndown stage (ref S8); RTF
    // through the destination-skipping token parser — both arrive as the
    // markup and persist as text, like the reference's format chain
    val persisted = format.toLowerCase match {
      case "html" => graft.ingest.HtmlParser.toMarkdown(content)
      case "rtf"  => graft.ingest.RtfParser.toText(content)
      case _ => content
    }
    Files.createDirectories(Paths.get(rawDataDir))
    val target = Paths.get(rawDataDir, base64url(normalized) + ".md")
    Files.write(target, persisted.getBytes(StandardCharsets.UTF_8))
    val sidecar = Paths.get(rawDataDir, base64url(normalized) + ".meta.json")
    def j(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    Files.write(sidecar,
      s"""{"title": ${j(title)}, "source": ${j(normalized)}, "format": ${j(format)}}"""
        .getBytes(StandardCharsets.UTF_8))
    try ingestFile(target.toString)
    catch {
      // pre-destructive failure (nothing stored) → remove the raw files;
      // a post-upsert failure (e.g. index refresh) keeps them — the store
      // now references this document and the next sync reconciles it
      case e: Ingest.NoChunksError =>
        Files.deleteIfExists(target); Files.deleteIfExists(sidecar); throw e
    }
  }

  /** Ingest every HTTP response page of a WARC container (the Common
    * Crawl arrival format): each page runs the same main-content
    * extraction as `ingestData(format = "html")` and indexes as its own
    * document keyed by its WARC-Target-URI (title from the page's
    * `<title>`, URI fallback). Parse-empty pages and zero-chunk pages
    * are skipped, truncated tails are refused at the last good record
    * ([[graft.ingest.WarcSource]] semantics). This is the driver-side
    * single-container tool call; the corpus-scale path is the
    * `s_warc_extract`-shaped flatMap over a binaryFile scan feeding the
    * batch upsert. */
  def ingestWarc(path: String): Seq[IngestResult] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    graft.ingest.WarcSource.records(bytes)
      .filter(_.warcType == "response").flatMap { r =>
        val html = new String(r.httpBody, StandardCharsets.UTF_8)
        val md = graft.ingest.HtmlParser.toMarkdown(html)
        if (md.isEmpty) None
        else {
          val title = graft.ingest.HtmlParser.extractTitle(html)
            .getOrElse(r.targetUri)
          try Some(ingestData(md, title, r.targetUri, format = "md"))
          catch { case _: Ingest.NoChunksError => None }
        }
      }
  }

  /** Ingest every text member (.md/.txt) of a TAR or ZIP container —
    * the dataset-dump arrival shape, dispatched on the archive's own
    * magic bytes. Each member indexes as its own document keyed by
    * `container-path!member-name`; zero-chunk members are skipped. */
  def ingestArchive(path: String): Seq[IngestResult] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val isZip = bytes.length >= 2 && bytes(0) == 'P'.toByte && bytes(1) == 'K'.toByte
    val docs =
      if (isZip) graft.ingest.ZipSource.textDocs(bytes)
      else graft.ingest.TarSource.textDocs(bytes)
    docs.flatMap { case (name, text) =>
      try Some(ingestData(text, name, s"$path!$name", format = "md"))
      catch { case _: Ingest.NoChunksError => None }
    }
  }

  /** Ingest an EPUB book: OCF container → spine-ordered XHTML chapters →
    * markdown ([[graft.ingest.EpubParser]]), each chapter indexed as its
    * own document (chapter-level provenance mirrors the archive-member
    * rule above); the OPF `dc:title` prefixes chapter titles the way the
    * reference's title chain carries container context. */
  def ingestEpub(path: String): Seq[IngestResult] = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val (book, chapters) = graft.ingest.EpubParser.book(bytes)
    chapters.flatMap { ch =>
      val title = book.map(t => s"$t — ${ch.href}").getOrElse(ch.href)
      try Some(ingestData(ch.markdown, title, s"$path!${ch.href}", format = "md"))
      catch { case _: Ingest.NoChunksError => None }
    }
  }

  /** a path is inside the configured roots both lexically AND canonically —
    * a request reaching outside through a symlinked ancestor is refused
    * (reference `isRequestedPathContained`, sync.ts:386-398) */
  private def containedInRoots(p: String): Boolean = {
    val lexical = roots.exists(r => ScopeMatch.matches(PathKeys.storageSpelling(p), r))
    val canonical = roots.exists(r =>
      ScopeMatch.matches(PathKeys.canonicalizeRequestedPath(p), PathKeys.realpathForMatch(r)))
    lexical && canonical
  }

  // ---- sync (reference §3.3: gather → plan → execute) ----
  /** Gather → plan → execute.
    *
    * Scope: none → reconcile all roots. With a scope, each requested path
    * is validated for containment (lexical + canonical, refused otherwise)
    * and becomes its own depth-zero scan root (directory) or a direct
    * target (file) — upserts are scope-limited, matching the reference
    * (sync.ts:500-530). WITHIN a scanned root, coverage stays complete —
    * scope is never pushed into the walk itself (prune safety,
    * server/index.ts:1153-1157).
    *
    * Gather: below `distributedThreshold` files ON BOTH SIDES — disk walk
    * AND db manifest — the gather is the reference-parity driver loop (one
    * tool call over a workspace — a few thousand files — is below Spark's
    * parallelism grain). At or above it on EITHER side, the gather
    * DISTRIBUTES: the disk manifest is a `binaryFile` scan + `sha2` on the
    * executors, the db manifest never leaves the cluster, the two
    * reconcile in [[SyncPlanner.planActionsDF]]'s single full-outer
    * shuffle, and only the ACTION rows (upserts/prunes — the work, not the
    * world) are collected. Routing on the db side too makes the driver
    * collect provably bounded: a near-empty scan root over a large store
    * (a prune-heavy sync) would otherwise collect O(store files) on the
    * driver. At 100 TB / millions of files the driver holds the plan,
    * never the manifests. */
  def sync(scope: Seq[String] = Seq.empty,
           distributedThreshold: Int = Engine.DistributedSyncThreshold,
           batchExecuteThreshold: Int = Engine.BatchedExecuteThreshold): SyncSummary = {
    val (scanRoots, directFiles, fileRequest) =
      if (scope.isEmpty) (roots, Seq.empty[String], false)
      else {
        scope.foreach(p => require(containedInRoots(p),
          s"requested path outside configured roots: ${PathKeys.displayPath(p)}"))
        val spelled = scope.map(PathKeys.storageSpelling)
        val (dirs, rest) = spelled.partition(p => Files.isDirectory(Paths.get(p)))
        (dirs, rest.filter(p => Files.isRegularFile(Paths.get(p))),
          dirs.isEmpty && rest.nonEmpty)
      }
    val scanned = DirectoryScanner.scanRoots(scanRoots,
      excludePrefixes = Seq(storePath, rawDataDir))
    val allFiles = scanned.files.map(_.path) ++ directFiles
    val scopeKeys = scope.map(PathKeys.syncPathKey)
    val excludes = Seq(storePath, rawDataDir)

    val (upserts, prunes, skipped, held) = describing("graft sync: gather+plan") {
      // the store's file count (a commit stat) routes with no job; below
      // the threshold the collected catalog is the driver plan's db side
      val smallManifest =
        if (allFiles.size >= distributedThreshold ||
            store.status()._2 >= distributedThreshold) None
        else Some(store.manifest().collect())
      smallManifest match {
        case None =>
          describing("graft sync: distributed gather+plan") {
            planDistributed(allFiles, scanned.coverage.unobservedPrefixes,
              scopeKeys, excludes, fileRequest)
          }
        case Some(manifestRows) =>
          val disk = allFiles.map { f =>
            val content = Files.readAllBytes(Paths.get(f))
            SyncPlanner.DiskFile(PathKeys.syncPathKey(f), f,
              Some(Ingest.sha256Hex(new String(content, StandardCharsets.UTF_8))))
          }
          // DriverProbe: a routing edit that lets a big manifest reach the
          // driver loop fails here
          graft.core.DriverProbe.record("sync_manifest_small",
            manifestRows.length, distributedThreshold.toLong)
          val db = manifestRows.toSeq.map { r =>
            val p = r.getString(0)
            SyncPlanner.DbEntry(PathKeys.syncPathKey(p), p, Option(r.getString(1)))
          }
          val plan = SyncPlanner.plan(disk, db,
            SyncPlanner.Coverage(scanned.coverage.unobservedPrefixes),
            SyncPlanner.Request(scopeKeys, excludes, fileRequest = fileRequest))
          (plan.upserts, plan.prunes, plan.skipped.size.toLong, plan.held.size.toLong)
      }
    }

    // execute under the mutation guard: stale/prune deletes must serialize
    // with concurrent writers just like upserts (reentrant from syncStart)
    mutationGuard.synchronized {
      val pruneSpellings = prunes.flatMap(_.spellings)
      val (upserted, empty) =
        if (upserts.size >= batchExecuteThreshold ||
            pruneSpellings.size >= batchExecuteThreshold)
          describing("graft sync: batched ingest")(
            executeBatched(upserts, pruneSpellings))
        else {
          // reference-parity per-file loop: right below the threshold,
          // where a binaryFile job's scheduling floor exceeds a handful of
          // driver-side ingests (one tool call over a small workspace)
          var up = 0L; var em = 0L
          for (u <- upserts) {
            try { ingestFileNoRefresh(u.path); up += 1 }
            catch { case _: Ingest.NoChunksError => em += 1 }
          }
          // every stale spelling and prune in one table write
          val deletes = (upserts.flatMap(_.staleSpellings) ++ pruneSpellings).distinct
          if (deletes.nonEmpty) describing("graft store: delete")(store.deleteFiles(deletes))
          (up, em)
        }
      // ONE index refresh per batch iff anything mutated (ref: single
      // optimize(), features/sync.ts:459-465)
      if (upserted > 0 || prunes.nonEmpty) refreshIndexes()
      SyncSummary(upserted, skipped, empty, prunes.size.toLong, held)
    }
  }

  /** The batched sync executor — replaces the per-file driver loop at or
    * above `batchExecuteThreshold` dirty files: ONE `binaryFile` read over
    * every upsert path → the distributed chunk+embed pipeline
    * ([[Ingest.buildChunks]], the same per-document logic the loop path
    * runs) → ONE batched store write ([[ChunkStore.upsertFilesFromRows]]) that
    * also carries every stale-spelling and prune delete. Per-file
    * zero-chunk semantics are preserved exactly: a file whose parse
    * produces no chunks is counted `empty` and its existing rows stay (it
    * is simply absent from the replace set) — the loop path's
    * NoChunksError invariant (reference `src/server/index.ts:635-642`),
    * whose per-file loop (`src/features/sync.ts:411-468`) is a
    * single-process artifact, not semantics. At 100k dirty files the loop
    * schedules 100k+ Spark jobs; this path schedules O(1). */
  private def executeBatched(upserts: Seq[SyncPlanner.Upsert],
                             pruneSpellings: Seq[String]): (Long, Long) = {
    val ts = now()
    val spelled = upserts.map(u => PathKeys.storageSpelling(u.path))
    spelled.foreach(p => require(p.startsWith(rawDataDir) || containedInRoots(p),
      s"path outside configured roots: ${PathKeys.displayPath(p)}"))
    val deletes = (upserts.flatMap(_.staleSpellings) ++ pruneSpellings).distinct
    if (spelled.isEmpty) { // prune-only batch: one deleting write
      store.deleteFiles(deletes)
      return (0L, 0L)
    }
    val mk = mkEmbedder // local copy: the executor closure must not drag `this`
    val (pdfPaths, nonPdf) = spelled.partition(graft.ingest.PdfIngest.isPdf)
    val (docxPaths, textPaths) = nonPdf.partition(_.toLowerCase.endsWith(".docx"))
    val textDocs =
      if (textPaths.isEmpty) None
      else Some(readFilesBinary(textPaths)
        .select(col("path").as("filePath"),
          // decode parity with the driver path (Ingest reads bytes → UTF-8
          // string): invalid sequences replace identically, so hashes agree
          Ingest.utf8Lossy(col("content")).as("content"),
          lit(null).cast("string").as("rawHash"),
          lit(null).cast("string").as("titleOverride")))
    // PDFs: one binaryFile pass (persisted — the items flatMap and the
    // hash/title projection both consume it) through the byte parser +
    // F15/F16 pipeline; parse-empty files fall out and count `empty`
    val pdfRaw =
      if (pdfPaths.isEmpty) None
      else Some(readFilesBinary(pdfPaths)
        .select(col("path").as("filePath"), col("content"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val mkCap = mkCaptioner // local copy, same closure hygiene as `mk`
    // F20 in the batched path: caption rows assemble in the SAME task as
    // the file's text chunks (buildVisualChunksDF → chunkAndCaption), so
    // batched and loop ingest produce identical rows by construction. The
    // full-outer text↔captions join keeps caption-only files alive;
    // pdfMetaDF (computed for every file in the scan) fills their
    // hash/title.
    val pdfRows: Option[DataFrame] = pdfRaw.map { raw =>
      val docsText = graft.ingest.PdfIngest.pdfDocsDF(spark, raw, mk)
      mkCap match {
        case Some(f) =>
          val caps = graft.ingest.VisualCaption.captionsDF(spark, raw, f)
            .groupBy("filePath")
            .agg(collect_list(struct(col("page"), col("caption"))).as("captions"))
          val docs = docsText.drop("rawHash", "titleOverride")
            .join(caps, Seq("filePath"), "full_outer")
            .join(graft.ingest.PdfIngest.pdfMetaDF(raw), Seq("filePath"))
            .select(col("filePath"),
              coalesce(col("content"), lit("")).as("content"),
              col("rawHash"), col("titleOverride"), col("captions"))
          Ingest.buildVisualChunksDF(spark, docs, mk, ts)
        case None => Ingest.buildChunksDF(spark, docsText, mk, ts)
      }
    }
    // DOCX converts per-row (unzip + StAX walk → markdown) — no second
    // projection needed, so no persist; parse-empty files filter out and
    // count `empty`
    val docxDocs =
      if (docxPaths.isEmpty) None
      else {
        val mdUdf = udf((b: Array[Byte]) => graft.ingest.DocxParser.toMarkdown(b))
        val titleUdf = udf((b: Array[Byte]) => graft.ingest.DocxParser.docTitle(b))
        Some(readFilesBinary(docxPaths)
          .select(col("path").as("filePath"),
            mdUdf(col("content")).as("content"),
            Ingest.utf8LossyHash(col("content")).as("rawHash"),
            titleUdf(col("content")).as("titleOverride"))
          .filter(length(col("content")) > 0))
      }
    val flatDocs = (textDocs.toSeq ++ docxDocs.toSeq).reduceOption(_ unionByName _)
    val rows = (flatDocs.map(d => Ingest.buildChunksDF(spark, d, mk, ts)).toSeq
        ++ pdfRows.toSeq)
      .reduce(_ unionByName _)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // upserted/empty counts come from the store's one per-file aggregate
      // over the persisted rows (the new files' catalog entries)
      val produced = store.upsertFilesFromRows(rows, deletes)
      (produced, spelled.size - produced)
    } finally { rows.unpersist(); pdfRaw.foreach(_.unpersist()); () }
  }

  /** the distributed gather+plan: manifests stay on the cluster, the driver
    * collects only (upsert, prune) action rows and (skip, hold) counts */
  private def planDistributed(allFiles: Seq[String], unobserved: Seq[String],
                              scopeKeys: Seq[String], excludes: Seq[String],
                              fileRequest: Boolean)
      : (Seq[SyncPlanner.Upsert], Seq[SyncPlanner.Prune], Long, Long) = {
    val syncKeyUdf = udf((p: String) => PathKeys.syncPathKey(p))
    val disk =
      if (allFiles.isEmpty)
        spark.emptyDataFrame
          .select(lit("").as("key"), lit("").as("path"), lit("").as("hash"))
          .where(lit(false))
      else
        // exact-path distributed read (readFilesBinary: no listing jobs;
        // paths are already native spellings, no "file:" strip needed)
        readFilesBinary(allFiles)
          // hash parity with the driver path (Ingest.sha256Hex): bytes →
          // UTF-8 string → bytes, so invalid sequences replace identically
          // (utf8LossyHash streams the round-trip — NOT SQL decode, which
          // throws under ANSI on the malformed sequences every PDF contains,
          // and no full decoded-String + re-encoded copy per file)
          .select(syncKeyUdf(col("path")).as("key"), col("path"),
            Ingest.utf8LossyHash(col("content")).as("hash"))
    val db = store.files().select(
      syncKeyUdf(col("filePath")).as("key"),
      col("filePath").as("spelling"), col("contentHash").as("hash"))
    val acts = SyncPlanner.planActionsDF(disk, db, unobserved, scopeKeys,
      excludes, fileRequest).persist()
    try {
      val counts = acts.groupBy("action").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val work = acts.filter(col("action").isin("upsert", "prune"))
        .collect().toSeq
      // action rows are one-per-dirty-FILE by construction; the bound
      // comes from the INDEPENDENT 4-row count aggregate above, so an
      // edit that joins chunk- or corpus-scale rows into the collected
      // work set fails its first sync (DriverProbe, r15 VERDICT ask #1)
      graft.core.DriverProbe.record("sync_plan_work", work.size.toLong,
        counts.getOrElse("upsert", 0L) + counts.getOrElse("prune", 0L))
      val upserts = work.filter(_.getAs[String]("action") == "upsert")
        .sortBy(_.getAs[String]("key"))
        .map(r => SyncPlanner.Upsert(r.getAs[String]("key"),
          r.getAs[String]("path"), None,
          Option(r.getAs[scala.collection.Seq[String]]("stale_spellings"))
            .map(_.toSeq).getOrElse(Seq.empty)))
      val prunes = work.filter(_.getAs[String]("action") == "prune")
        .sortBy(_.getAs[String]("key"))
        .map(r => SyncPlanner.Prune(r.getAs[String]("key"),
          Option(r.getAs[scala.collection.Seq[String]]("spellings"))
            .map(_.toSeq).getOrElse(Seq.empty)))
      (upserts, prunes, counts.getOrElse("skip", 0L), counts.getOrElse("hold", 0L))
    } finally acts.unpersist()
  }

  // ---- list_files (reference J4) ----
  /** the store's per-file catalog (filePath, chunkCount, lastModified),
    * collected: no job warm, one small scan cold */
  private def catalog(): Array[Row] = describing("graft catalog")(store.listFiles().collect())

  /** The store's catalog cross-referenced with the directory scan on the
    * driver: both sides are O(files) and the tool's answer is too. */
  def listFiles(): DataFrame = {
    val scanned = DirectoryScanner.scanRoots(roots,
      excludePrefixes = Seq(storePath, rawDataDir)).files
    // realpath BOTH sides (reference list.ts:31-70 keys on realpathForMatch)
    // so symlinked-but-identical spellings still cross-reference
    val ingested = catalog().groupBy(r => PathKeys.realpathForMatch(r.getString(0)))
    val rows = scanned.flatMap { f =>
      // home-abbreviated twin for anything user-facing (F18): the raw
      // `path` stays the machine key, `display_path` is what gets shown
      def row(chunkCount: Option[Long], lastModified: String) =
        Row(f.path, PathKeys.displayPath(f.path), f.bytes, chunkCount.isDefined,
          chunkCount.getOrElse(0L), lastModified)
      ingested.get(PathKeys.realpathForMatch(f.path)) match {
        case Some(hits) => hits.toSeq.map(r => row(Some(r.getLong(1)), r.getString(2)))
        case None => Seq(row(None, null))
      }
    }.sortBy(r => UTF8String.fromString(r.getString(0)))
    spark.createDataFrame(rows.asJava, Engine.ListFilesSchema)
  }

  /** Near-duplicate file pairs over the ingested corpus at a Jaccard
    * `threshold` — a training-pipeline tool over the engine's own store
    * (beyond the reference surface, which only dedups EXACT content by
    * hash at sync). Each file's text is reassembled from its chunks in
    * contract order, shingled, and run through the one-knob banded LSH +
    * exact-verify pipeline ([[graft.ops.Dedup.nearDupPairsAt]] — banding
    * chosen by the s-curve rule). File identity travels as hash60(path)
    * through the numeric pair machinery and is joined back to paths.
    * Returns (path_a, path_b, jaccard), path_a < path_b.
    *
    * On-demand whole-corpus form (tool scale); a corpus-scale pipeline
    * keeps signatures in a [[graft.store.MinhashIndexStore]] and probes
    * per batch instead.
    *
    * RESULT LIFECYCLE (ADVICE r13): the returned DataFrame is an eagerly
    * materialized checkpoint that stays valid until `nearDuplicateFiles`
    * runs AGAIN on this engine — the re-invocation releases the
    * predecessor's blocks (the [[checkpointBounded]] per-tool rotation
    * that keeps a long-lived session's block count flat), after which
    * iterating the earlier handle fails with removed-block errors.
    * Consume each result before re-running the tool — the same contract
    * StreamingIngest documents for its named result dirs. */
  def nearDuplicateFiles(threshold: Double = 0.8): DataFrame = Seam.scoped { seam =>
    val perFile = seam.persist(store.read()
      .groupBy("filePath")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("chunkIndex"), col("text")))),
        s => s("text")), " ").as("text"))
      .withColumn("file_id", graft.ops.Dedup.hash60(col("filePath"))))
    // the result checkpoint is eager, so every intermediate (the per-file
    // cache, the verify's pair list) is released when `seam` closes; the
    // checkpoint itself rotates per API name below
    val withSh = perFile
      .withColumn("ws", graft.ops.Dedup.wordsArray("text"))
      .withColumn("shs", graft.ops.Dedup.wordShingles("ws", 5))
    val pairs = graft.ops.Dedup.nearDupPairsAt(seam,
      withSh.select(col("file_id"), col("shs")), "file_id", "shs", threshold)
    val ids = perFile.select(col("file_id"), col("filePath"))
    checkpointBounded("nearDuplicateFiles", pairs
      .join(ids.select(col("file_id").as("id_a"), col("filePath").as("pa")), Seq("id_a"))
      .join(ids.select(col("file_id").as("id_b"), col("filePath").as("pb")), Seq("id_b"))
      .select(least(col("pa"), col("pb")).as("path_a"),
        greatest(col("pa"), col("pb")).as("path_b"), col("jaccard"))
      .orderBy("path_a", "path_b"))
  }

  /** One seam per API NAME owning the engine's eager checkpointed results
    * (the disk twin is StreamingIngest's named result dirs): a
    * re-invocation of the same tool closes its predecessor's seam, so a
    * long-lived session holds at most one materialized result per tool
    * instead of one per call. Same lifecycle contract: a returned
    * DataFrame is valid until the SAME tool runs again. */
  private val liveSeams = new java.util.concurrent.ConcurrentHashMap[String, Seam]()
  private def checkpointBounded(name: String, df: DataFrame): DataFrame = {
    val owner = Seam()
    val cp = owner.checkpoint(df)
    Option(liveSeams.put(name, owner)).foreach(_.close())
    cp
  }

  /** F21 — per-page visual-candidate manifest over the workspace's PDFs
    * (reference `src/pdf-visual/detector.ts` + orchestrator contract in
    * `src/pdf-visual/index.ts:17-29`): which pages a renderer + VLM
    * captioner (F20, the external seam) should run on, with the padded
    * crop rect the renderer would use. Scope validation matches sync's
    * containment rule; the sweep itself is ONE exact-path read
    * ([[readFilesBinary]], no listing jobs) with
    * [[graft.ingest.VisualDetector.detect]] pure per document — at corpus
    * scale candidates fall out of a single distributed pass, no driver
    * loop. Returns (filePath, page, isCandidate, x0, y0, x1, y1); crop
    * columns are null for non-candidates and full-page-fallback pages. */
  def visualCandidates(scope: Seq[String] = Seq.empty): DataFrame = {
    val requested =
      if (scope.isEmpty) roots
      else {
        scope.foreach(p => require(containedInRoots(p),
          s"requested path outside configured roots: ${PathKeys.displayPath(p)}"))
        scope.map(PathKeys.storageSpelling)
      }
    val (dirs, files) = requested.partition(p => Files.isDirectory(Paths.get(p)))
    val pdfs = (DirectoryScanner.scanRoots(dirs,
      excludePrefixes = Seq(storePath, rawDataDir)).files.map(_.path) ++
      files.filter(p => Files.isRegularFile(Paths.get(p))))
      .filter(graft.ingest.PdfIngest.isPdf)
    if (pdfs.isEmpty)
      Seq.empty[(String, Int, Boolean, Option[Double], Option[Double],
        Option[Double], Option[Double])]
        .toDF("filePath", "page", "isCandidate", "x0", "y0", "x1", "y1")
    else graft.ingest.PdfIngest.visualCandidatesDF(spark,
      readFilesBinary(pdfs).withColumnRenamed("path", "filePath"))
  }

  /** sources classifier (reference J5, `src/utils/list-sources.ts:51-77`):
    * ingested entries whose key matched NO scanned file — raw-data rows
    * decoded back to their external source id, real-file orphans reported
    * by path. */
  def listSources(): DataFrame = {
    val scannedKeys = DirectoryScanner.scanRoots(roots,
      excludePrefixes = Seq(storePath, rawDataDir))
      .files.map(f => PathKeys.realpathForMatch(f.path)).toSet
    val rows = catalog().toSeq
      .filterNot(r => scannedKeys.contains(PathKeys.realpathForMatch(r.getString(0))))
      .map { r =>
        val decoded = Engine.decodeRawData(rawDataDir, r.getString(0))
        Row(decoded.getOrElse(r.getString(0)), decoded.isDefined, r.getLong(1))
      }.sortBy(r => UTF8String.fromString(r.getString(0)))
    spark.createDataFrame(rows.asJava, Engine.SourcesSchema)
  }

  // ---- sync_start / sync_status: the one async boundary (reference
  // §2.10/§3.3: job registered, floating run, clients poll; exactly one job
  // retained per engine; a mutation guard serializes writers while reads
  // stay concurrent — `src/server/index.ts:124-129, 233-239, 1075-1123`) ----
  final case class SyncJob(jobId: String, running: Boolean,
                           summary: Option[SyncSummary], error: Option[String])

  private val jobRef = new java.util.concurrent.atomic.AtomicReference[SyncJob](null)
  private val mutationGuard = new Object

  def syncStart(scope: Seq[String] = Seq.empty): String = {
    val jobId = java.util.UUID.randomUUID().toString
    jobRef.set(SyncJob(jobId, running = true, None, None))
    val t = new Thread(() => {
      val done =
        try {
          val s = mutationGuard.synchronized(sync(scope))
          SyncJob(jobId, running = false, Some(s), None)
        } catch { case e: Throwable =>
          SyncJob(jobId, running = false, None, Some(e.getMessage))
        }
      // only publish if this job is still the current one — an old job
      // finishing must not clobber a newer job's record (reference
      // updateSyncJob ignores writes aimed at a replaced record)
      jobRef.updateAndGet(cur => if (cur != null && cur.jobId == jobId) done else cur)
    }, s"graft-sync-$jobId")
    t.setDaemon(true)
    t.start()
    jobId
  }

  def syncStatus(jobId: String): SyncJob = {
    val j = jobRef.get()
    if (j == null || j.jobId != jobId)
      throw new IllegalArgumentException(s"unknown sync job: $jobId")
    j
  }

  // ---- remaining tools ----
  def deleteDocument(path: String): Unit = mutationGuard.synchronized {
    describing("graft store: delete")(store.deleteFile(PathKeys.storageSpelling(path)))
    refreshIndexes()
  }

  def readChunkNeighbors(path: String, chunkIndex: Int,
                         before: Int = 2, after: Int = 2): DataFrame =
    describing("graft neighbors")(
      store.neighbors(PathKeys.storageSpelling(path), chunkIndex, before, after))

  /** (chunks, files) from the store's commit stats: no job */
  def status(): (Long, Long) = describing("graft catalog")(store.status())

  /** once-per-batch maintenance (the reference's `optimize()` after a sync
    * batch, `src/server/index.ts:546-549`): compact a fragmented chunk
    * table. Every store vacuums its superseded versions as it commits. */
  def optimize(): Unit = mutationGuard.synchronized(store.optimize())

  /** Export the chunk corpus in the sharded training layout
    * ([[graft.ops.CorpusWriter]]): split=/shard= directories, content-hash
    * split + id-hash shard placement, bounded file sizes. The bridge from
    * the RAG store to a training-data build — the chunk table IS a cleaned
    * corpus, and this hands it to a data loader in the layout it wants.
    *
    * `zorderBy` selects the CLUSTERED export mode instead: the corpus is
    * laid out along the Morton curve over the named numeric dimensions
    * ([[graft.ops.ZOrder.writeZOrdered]]) with the `_zstats` sidecar, so
    * range predicates over the export prune files driver-side before any
    * scan task is scheduled — the layout an analytics/curation reader
    * wants, where the sharded layout serves sequential training readers.
    * Clustered mode exports an extended projection (doc_id, file_path,
    * chunk_index, text, text_len) so there are numeric dimensions to
    * cluster on; dims must come from the numeric ones. Returns the
    * output dir. */
  def exportCorpus(outDir: String, numShards: Int = 16,
                   maxRecordsPerFile: Long = 0L,
                   zorderBy: Seq[String] = Seq.empty,
                   zorderFiles: Int = 32): String =
    if (zorderBy.nonEmpty) {
      val docs = store.read().select(
        col("id").as("doc_id"), col("filePath").as("file_path"),
        col("chunkIndex").cast("long").as("chunk_index"), col("text"),
        length(col("text")).cast("long").as("text_len"))
      graft.ops.ZOrder.writeZOrdered(docs, outDir, zorderBy,
        bits = 6, numFiles = zorderFiles)
      outDir
    } else
      graft.ops.CorpusWriter.writeSharded(
        store.read().select(col("id").as("doc_id"), col("text")),
        outDir, numShards, maxRecordsPerFile,
        extraPartitionCols = Seq.empty) // chunks carry no lang strata
}

object Engine {
  /** Executor-side single-file read for [[Engine.readFilesBinary]]: plain
    * local paths use java.nio (the engine's measured fast path — Hadoop's
    * LocalFileSystem adds checksum machinery per open); scheme-qualified
    * URIs open through Hadoop FileSystem so file://, hdfs://, s3a:// keep
    * working (r16 ADVICE), with the SESSION's Hadoop conf when the caller
    * broadcast one (credentials and fs.* tuning ride spark.hadoop.*).
    * Lives on the companion so the closure carries only the optional
    * broadcast handle. */
  private[api] def readFileBytes(
      p: String,
      conf: Option[org.apache.hadoop.conf.Configuration] = None): Array[Byte] =
    if (p.contains(":/")) {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(
        conf.getOrElse(new org.apache.hadoop.conf.Configuration()))
      val len = fs.getFileStatus(path).getLen
      require(len <= Int.MaxValue, s"file too large for a byte array: $p ($len bytes)")
      val buf = new Array[Byte](len.toInt)
      val in = fs.open(path)
      try in.readFully(buf) finally in.close()
      buf
    } else java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))

  /** file count at which the sync gather distributes (below it the driver
    * loop wins — a binaryFile scan's job-scheduling floor exceeds hashing a
    * few hundred small files in-process) */
  val DistributedSyncThreshold = 512

  /** dirty-file count at which the sync EXECUTE batches (one binaryFile →
    * chunk+embed → one write of the touched buckets) instead of looping one
    * ingest job per file. Lower than the gather threshold: the execute
    * loop pays a bucket rewrite and a commit per file, so batching wins as
    * soon as a few dozen files are dirty, while the gather loop only pays a
    * driver-side read+hash per file. */
  val BatchedExecuteThreshold = 32

  /** chunk count at which queries route through the persisted ANN index.
    * Below it the exact brute-force scan is both correct and faster (probe
    * overhead + recall loss buy nothing at tool scale); above it the probe
    * reads nProbe/nLists of the corpus instead of all of it. */
  val AnnCorpusThreshold = 4096L

  /** [[Engine.queryDocuments]]'s output columns */
  private val QuerySchema: StructType = StructType(Seq(
    StructField("filePath", StringType, nullable = false),
    StructField("chunkIndex", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("fileTitle", StringType),
    StructField("score", DoubleType, nullable = false),
    StructField("boosted", DoubleType, nullable = false)))

  /** [[Engine.listFiles]]'s output columns */
  private val ListFilesSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("display_path", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("ingested", BooleanType, nullable = false),
    StructField("chunk_count", LongType, nullable = false),
    StructField("lastModified", StringType)))

  /** [[Engine.listSources]]'s output columns */
  private val SourcesSchema: StructType = StructType(Seq(
    StructField("source", StringType, nullable = false),
    StructField("is_raw_data", BooleanType, nullable = false),
    StructField("chunk_count", LongType, nullable = false)))

  /** recover the external source id from a managed raw-data path
    * (reference `src/utils/raw-data-utils.ts:196-214`) */
  def decodeRawData(rawDataDir: String, path: String): Option[String] = {
    val name = java.nio.file.Paths.get(path).getFileName.toString
    if (!path.startsWith(rawDataDir) || !name.endsWith(".md")) None
    else try Some(new String(
      java.util.Base64.getUrlDecoder.decode(name.dropRight(3)),
      java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Exception => None }
  }
}
