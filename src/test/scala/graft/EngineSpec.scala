package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Engine
import graft.core.{GraftSession, Profile}
import graft.ingest.DirectoryScanner

/** End-to-end workflows through the tool facade — the Spark twin of the
  * reference's rag-workflow.e2e tests. */
class EngineSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), content.getBytes(StandardCharsets.UTF_8))
  }

  private def mkEngine(): (Engine, String) = {
    val root = Files.createTempDirectory("engine-root").toString
    val store = Files.createTempDirectory("engine-store").toString + "/chunks"
    write(s"$root/spark.md",
      "# Spark Guide\nApache Spark runs distributed joins windows and aggregations over large datasets. " +
        "Executors process partitions in parallel across the cluster machines.")
    write(s"$root/cooking.txt",
      "Pasta Basics\n\nBoil water with salt and cook the pasta until al dente. " +
        "Tomato sauce with basil and olive oil completes a classic italian dinner.")
    write(s"$root/empty.txt", "   \n  \n")
    (new Engine(spark, store, Seq(root)), root)
  }

  test("sync → query → neighbors → delete → re-sync round trip") {
    val (engine, root) = mkEngine()

    val s1 = engine.sync()
    assert(s1.upserted === 2 && s1.empty === 1 && s1.pruned === 0)
    assert(engine.status()._2 === 2) // two documents

    // unchanged re-sync: all skips, nothing rewritten
    val s2 = engine.sync()
    assert(s2.upserted === 0 && s2.skipped === 2)

    // query routes to the right document
    val hits = engine.queryDocuments("distributed spark joins", limit = 5)
    val top = hits.collect().head
    assert(top.getAs[String]("filePath").endsWith("spark.md"))
    assert(top.getAs[String]("fileTitle") === "Spark Guide")

    // neighbors contract
    val n = engine.readChunkNeighbors(s"$root/spark.md", 0)
    assert(n.count() >= 1)
    assert(n.filter("isTarget").count() === 1)

    // content change → upsert on next sync
    write(s"$root/cooking.txt",
      "Pasta Basics\n\nCompletely new content about risotto rice and parmesan cheese dishes.")
    val s3 = engine.sync()
    assert(s3.upserted === 1 && s3.skipped === 1)

    // deletion on disk → prune
    Files.delete(Paths.get(s"$root/cooking.txt"))
    val s4 = engine.sync()
    assert(s4.pruned === 1)
    assert(engine.status()._2 === 1)

    // delete_document removes the rest
    engine.deleteDocument(s"$root/spark.md")
    assert(engine.status() === ((0L, 0L)))
  }

  test("engine is green behind the LEARNED embedder: sync, query routing, neighbors") {
    // same-model-for-index-and-query with the Word2Vec embedder behind the
    // F1 seam — the whole ingest+search pipeline must work unchanged when
    // the realistic model replaces feature hashing.
    import spark.implicits._
    val root = Files.createTempDirectory("engine-learned-root").toString
    val store = Files.createTempDirectory("engine-learned-store").toString + "/chunks"
    write(s"$root/spark.md",
      "# Spark Guide\nApache Spark runs distributed joins windows and aggregations over large datasets. " +
        "Executors process partitions in parallel across the cluster machines.")
    write(s"$root/cooking.txt",
      "Pasta Basics\n\nBoil water with salt and cook the pasta until al dente. " +
        "Tomato sauce with basil and olive oil completes a classic italian dinner.")
    // train on a corpus covering both topics so query tokens are in-vocab
    val trainDocs = (0 until 30).map { i =>
      if (i % 2 == 0)
        (i.toLong, "apache spark runs distributed joins windows aggregations executors " +
          "process partitions parallel cluster machines large datasets")
      else
        (i.toLong, "boil water salt cook pasta al dente tomato sauce basil olive " +
          "oil classic italian dinner")
    }.toDF("doc_id", "text")
    val learned = graft.embed.LearnedEmbedder.train(trainDocs, "text",
      dim = 32, minCount = 1, maxIter = 3)
    val engine = new Engine(spark, store, Seq(root), mkEmbedder = () => learned)
    val s1 = engine.sync()
    assert(s1.upserted === 2)
    val hits = engine.queryDocuments("distributed spark joins", limit = 5)
    val top = hits.collect().head
    assert(top.getAs[String]("filePath").endsWith("spark.md"))
    val cook = engine.queryDocuments("pasta tomato basil dinner", limit = 5)
    assert(cook.collect().head.getAs[String]("filePath").endsWith("cooking.txt"))
    val n = engine.readChunkNeighbors(s"$root/spark.md", 0)
    assert(n.filter("isTarget").count() === 1)
  }

  test("scope filters queries; list_files cross-references ingested state") {
    val (engine, root) = mkEngine()
    engine.sync()
    val scoped = engine.queryDocuments("pasta tomato", scope = Seq(s"$root"))
    assert(scoped.count() >= 1)
    val noMatchScope = engine.queryDocuments("pasta tomato", scope = Seq("/nonexistent"))
    assert(noMatchScope.count() === 0)

    val lf = engine.listFiles().collect()
    assert(lf.length === 3) // includes empty.txt, not ingested
    val byPath = lf.map(r => r.getAs[String]("path") -> r.getAs[Boolean]("ingested")).toMap
    assert(byPath(s"$root/spark.md"))
    assert(!byPath(s"$root/empty.txt"))
  }

  test("ingest_data: URL normalization + base64url round trip + rollback") {
    val (engine, _) = mkEngine()
    val res = engine.ingestData(
      "# External Doc\nRetrieved content about streaming watermarks and stateful processing in engines.",
      "External Doc", "https://example.com/page?utm=x#sec")
    assert(res.chunkCount >= 1)
    assert(engine.decodeRawDataSource(res.filePath) === Some("https://example.com/page"))
    // raw-data rows are managed: sync must NOT prune them (J2 guard), and
    // the sources classifier (J5) reports them decoded
    val summary = engine.sync()
    assert(summary.pruned === 0)
    val sources = engine.listSources().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Boolean]("is_raw_data")).toMap
    assert(sources("https://example.com/page"))
    // whitespace-only content rolls back the raw-data file
    val before = engine.status()._1
    intercept[graft.ingest.Ingest.NoChunksError] {
      engine.ingestData("   ", "Empty", "clipboard://2026-01-01")
    }
    assert(engine.status()._1 === before)
  }

  test("ingest_data html: main-content extraction to markdown before indexing") {
    val (engine, _) = mkEngine()
    val html =
      """<html><head><title>Streaming Guide</title><script>track()</script></head>
        |<body><h1>Watermarks Explained</h1>
        |<p>Stateful streaming engines drop late events beyond the watermark boundary
        |to keep state bounded over unbounded inputs across long running pipelines.</p>
        |</body></html>""".stripMargin
    val res = engine.ingestData(html, "Streaming Guide", "https://docs.example.com/stream", "html")
    assert(res.chunkCount >= 1)
    val hit = engine.queryDocuments("watermark late events", limit = 3).collect().head
    assert(hit.getAs[String]("filePath") === res.filePath)
    assert(!hit.getAs[String]("text").contains("track()")) // script never indexed
  }

  test("ingest_data rtf: destination groups stripped before indexing") {
    val (engine, _) = mkEngine()
    val rtf = graft.ingest.RtfParser.fixture(5L, Seq(
      "Adaptive execution replans shuffle partitions from runtime statistics " +
        "so skewed joins split into balanced tasks automatically."))
    val res = engine.ingestData(rtf, "AQE Notes", "file:///notes/aqe.rtf", "rtf")
    assert(res.chunkCount >= 1)
    val hit = engine.queryDocuments("adaptive skewed shuffle replans", limit = 3)
      .collect().head
    assert(hit.getAs[String]("filePath") === res.filePath)
    assert(hit.getAs[String]("text").contains("balanced tasks"))
    assert(!hit.getAs[String]("text").contains("Helvetica")) // fonttbl stripped
  }

  test("ingest_warc: every response page indexed under its target URI") {
    val (engine, _) = mkEngine()
    def page(topic: String, body: String) =
      s"""<html><head><title>$topic</title></head>
         |<body><nav><a href="/">Home</a></nav>
         |<article><h1>$topic</h1><p>$body</p></article></body></html>""".stripMargin
    val warc = graft.ingest.WarcSource.fixture(1L, Seq( // odd id → gzipped
      "https://crawl.test/volcano" -> page("Volcanoes",
        "Magma chambers build pressure beneath stratovolcanoes until eruption."),
      "https://crawl.test/pasta" -> page("Pasta",
        "Slow simmered tomato sauce coats fresh pasta evenly and richly.")))
    val f = Files.createTempFile("fixture", ".warc.gz")
    Files.write(f, warc)
    val results = engine.ingestWarc(f.toString)
    assert(results.length === 2)
    assert(results.forall(_.chunkCount >= 1))
    // each page is its own queryable document titled from its <title>
    val hit = engine.queryDocuments("magma eruption pressure", limit = 2)
      .collect().head
    assert(hit.getAs[String]("fileTitle") === "Volcanoes")
    // nav boilerplate from the pages was never indexed
    assert(engine.queryDocuments("Home", limit = 3).collect()
      .forall(r => !r.getAs[String]("text").contains("Home")))
  }

  test("ingest_archive: tar and zip text members index as documents") {
    val (engine, _) = mkEngine()
    val docs = Seq(
      "notes/shuffle.md" -> "Partition counts should track shuffled data volume for healthy tasks.",
      "notes/joins.txt" -> "Broadcast the small dimension side to avoid shuffling the fact table.")
    val tarF = Files.createTempFile("fixture", ".tar.gz")
    Files.write(tarF, graft.ingest.TarSource.fixture(3L, docs)) // gzipped
    val tarRes = engine.ingestArchive(tarF.toString)
    assert(tarRes.length === 2 && tarRes.forall(_.chunkCount >= 1))
    val zipF = Files.createTempFile("fixture", ".zip")
    Files.write(zipF, graft.ingest.ZipSource.fixture(2L, Seq(
      "recipes/pasta.md" -> "Simmer tomato sauce slowly so it thickens and coats the pasta.")))
    assert(engine.ingestArchive(zipF.toString).length === 1)
    // each member is its own retrievable document
    val hit = engine.queryDocuments("broadcast small dimension join", limit = 2)
      .collect().head
    assert(hit.getAs[String]("text").contains("Broadcast the small dimension"))
    assert(tarRes.map(_.filePath).contains(hit.getAs[String]("filePath")))
  }

  test("ingest_epub: spine chapters index as documents with book-titled provenance") {
    val (engine, _) = mkEngine()
    val book = graft.ingest.EpubParser.fixture(11L, Seq(
      ("Orbits", Seq("Satellites trace elliptical orbits governed by gravity and momentum.")),
      ("Tides", Seq("Lunar gravity drags the oceans into twice-daily tidal bulges."))))
    val f = Files.createTempFile("fixture", ".epub")
    Files.write(f, book)
    val results = engine.ingestEpub(f.toString)
    assert(results.length === 2)
    assert(results.forall(_.chunkCount >= 1))
    // each chapter is its own stored document (distinct raw-data targets)
    assert(results.map(_.filePath).distinct.length === 2)
    val hit = engine.queryDocuments("lunar gravity tidal oceans", limit = 2)
      .collect().head
    // F11 title chain prefers the chapter's own heading over the sidecar
    assert(hit.getAs[String]("fileTitle") === "Tides")
    assert(hit.getAs[String]("text").contains("tidal bulges"))
  }

  test("sync_start/sync_status: async job with mutation guard, single retained job") {
    val (engine, _) = mkEngine()
    val jobId = engine.syncStart()
    var status = engine.syncStatus(jobId)
    val deadline = System.currentTimeMillis() + 120000
    while (status.running && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      status = engine.syncStatus(jobId)
    }
    assert(!status.running)
    assert(status.error.isEmpty)
    assert(status.summary.get.upserted === 2)
    intercept[IllegalArgumentException] { engine.syncStatus("not-a-job") }
  }

  test("directory scanner: depth limit, symlink skip, coverage facts") {
    val root = Files.createTempDirectory("scan-root").toString
    write(s"$root/a.md", "top level")
    var deep = root
    for (i <- 1 to 12) { deep = s"$deep/d$i" }
    write(s"$deep/too-deep.md", "below depth limit")
    val linkTarget = Files.createTempDirectory("outside").toString
    write(s"$linkTarget/escape.md", "outside root")
    Files.createSymbolicLink(Paths.get(s"$root/link"), Paths.get(linkTarget))

    val r = DirectoryScanner.scan(root)
    assert(r.files.map(_.path) === Seq(s"$root/a.md"))
    assert(r.coverage.depthLimited.nonEmpty)
    assert(r.coverage.symlinks === Seq(s"$root/link"))
    // the unobserved prefixes would guard prunes for anything beneath them
    assert(r.coverage.unobservedPrefixes.exists(p => s"$deep/too-deep.md".startsWith(p)))
  }

  test("persisted FTS index: built per batch, indexed path equals ad-hoc") {
    val (engine, _) = mkEngine()
    engine.sync()
    assert(engine.ftsIndex.exists) // one refresh per mutation batch
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[String]("filePath"), r.getAs[Int]("chunkIndex"), r.getAs[Double]("boosted"))
    val indexed = engine.queryDocuments("spark joins pasta", limit = 5).collect().map(key)
    engine.ftsIndex.drop() // stored index gone → ad-hoc corpus scoring path
    val adhoc = engine.queryDocuments("spark joins pasta", limit = 5).collect().map(key)
    assert(indexed.toSeq === adhoc.toSeq)
  }

  test("scoped sync limits upserts to the requested path; out-of-root refused") {
    val (engine, root) = mkEngine()
    // file-scoped sync ingests exactly that file, not the whole root
    val s = engine.sync(scope = Seq(s"$root/spark.md"))
    assert(s.upserted === 1)
    assert(engine.status()._2 === 1)
    // directory-scoped sync then picks up the rest
    val s2 = engine.sync(scope = Seq(root))
    assert(s2.upserted === 1 && s2.skipped === 1 && s2.empty === 1)
    // containment: requests and ingests outside the configured roots refuse
    intercept[IllegalArgumentException] { engine.sync(scope = Seq("/etc")) }
    intercept[IllegalArgumentException] { engine.ingestFile("/etc/hostname") }
  }

  test("query params: vector-only degrade, maxDistance, maxFiles") {
    val (engine, _) = mkEngine()
    engine.sync()
    // no alphanumeric tokens → FTS stage skipped, pure vector ranking
    // (reference: zero vector hits / no terms short-circuits FTS)
    val vecOnly = engine.queryDocuments("???", limit = 3).collect()
    assert(vecOnly.nonEmpty)
    assert(vecOnly.forall(r =>
      r.getAs[Double]("boosted") === r.getAs[Double]("score")))
    // an impossible distance threshold filters everything
    assert(engine.queryDocuments("spark joins", maxDistance = Some(1e-9)).count() === 0)
    // maxFiles=1 restricts results to a single document
    val oneFile = engine.queryDocuments("spark pasta water joins", limit = 10,
      maxFiles = Some(1)).select("filePath").distinct().count()
    assert(oneFile === 1)
  }

  test("cross-instance equivalence + zero-interval read consistency") {
    // reference contracts: a DB ingested through one entry path answers
    // identically through another (cross-path equivalence test family), and
    // readConsistencyInterval=0 means every read sees external writers
    val (engine1, root) = mkEngine()
    engine1.sync()
    val storePath = engine1.store.read().inputFiles.head
      .replaceAll("/chunks/.*$", "/chunks")
    val engine2 = new Engine(spark, storePath, Seq(root))

    val q1 = engine1.queryDocuments("distributed spark joins", limit = 5)
      .select("filePath", "chunkIndex").collect().map(_.toString).toSeq
    val q2 = engine2.queryDocuments("distributed spark joins", limit = 5)
      .select("filePath", "chunkIndex").collect().map(_.toString).toSeq
    assert(q1 === q2)

    // external writer (engine2) mutates; engine1's next read sees it
    engine2.deleteDocument(s"$root/spark.md")
    assert(engine1.status()._2 === engine2.status()._2)
    assert(engine1.queryDocuments("distributed spark joins", limit = 5)
      .filter(org.apache.spark.sql.functions.col("filePath").endsWith("spark.md"))
      .count() === 0)
  }

  test("distributed sync gather matches the driver-side plan action for action") {
    val (engine, root) = mkEngine()

    // distributedThreshold = 0 forces every gather through the binaryFile +
    // sha2 + planActionsDF path (Engine.sync routes there automatically once
    // the walk exceeds DistributedSyncThreshold files)
    val s1 = engine.sync(distributedThreshold = 0)
    assert(s1.upserted === 2 && s1.empty === 1 && s1.pruned === 0)

    // unchanged re-sync: hash parity between sha2(binaryFile content) and
    // the stored Ingest.sha256Hex means everything classifies as skip
    val s2 = engine.sync(distributedThreshold = 0)
    assert(s2.upserted === 0 && s2.skipped === 2 && s2.pruned === 0)

    // modify + delete, then reconcile distributed: upsert AND prune routes
    write(s"$root/spark.md",
      "# Spark Guide\nNew content on shuffle partitioning and broadcast joins in spark.")
    Files.delete(Paths.get(s"$root/cooking.txt"))
    val s3 = engine.sync(distributedThreshold = 0)
    assert(s3.upserted === 1 && s3.pruned === 1)
    assert(engine.status()._2 === 1)

    // driver-side gather over the same final state agrees completely
    val s4 = engine.sync() // default threshold → driver loop for 2 files
    assert(s4.upserted === 0 && s4.skipped === 1 && s4.pruned === 0 && s4.held === 0)
  }

  test("planSync routes distributed when the DB manifest exceeds the threshold") {
    // a near-empty scan root over a larger store (prune-heavy sync): the
    // db side alone must push the gather distributed, so the driver never
    // collects O(store files) — and the two routes plan identically
    def fill(root: String): Unit =
      (0 until 12).foreach(i => write(s"$root/docs/p$i.md",
        s"# Doc $i\nPrune routing corpus document $i about spark shuffle stages."))
    val rootA = Files.createTempDirectory("route-a").toString
    val rootB = Files.createTempDirectory("route-b").toString
    fill(rootA); fill(rootB)
    val engA = new Engine(spark,
      Files.createTempDirectory("route-sa").toString + "/chunks", Seq(rootA))
    val engB = new Engine(spark,
      Files.createTempDirectory("route-sb").toString + "/chunks", Seq(rootB))
    assert(engA.sync().upserted === 12L && engB.sync().upserted === 12L)
    // shrink both workspaces to 3 files: disk (3) < threshold (10) ≤ db (12)
    Seq(rootA, rootB).foreach(root => (3 until 12).foreach(i =>
      Files.delete(Paths.get(s"$root/docs/p$i.md"))))
    val sA = engA.sync(distributedThreshold = 10)       // db side routes distributed
    val sB = engB.sync(distributedThreshold = Int.MaxValue) // forced driver loop
    assert(sA.upserted === 0L && sA.skipped === 3L && sA.pruned === 9L &&
      sA.held === 0L)
    assert(sB === sA)
    def state(e: Engine) = e.store.read()
      .select("filePath", "chunkIndex", "text", "contentHash").collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1),
        r.getString(2), r.getString(3)))
      .sorted.toSeq
    assert(state(engA) === state(engB))
  }

  test("DriverProbe: sync driver fetches report batch-bounded; violations throw") {
    import graft.core.DriverProbe
    // a violation is loud — the TrainerProbe contract on the write path
    intercept[IllegalArgumentException](DriverProbe.record("t", 10L, 9L))
    // a throwing hook must never abort the caller
    DriverProbe.hook = (_, _, _) => throw new RuntimeException("boom")
    try DriverProbe.record("t", 1L, 1L)
    finally DriverProbe.hook = null

    // drive a real distributed+batched sync and pin that every site fired
    // within its bound (threshold 1 forces planDistributed even for a
    // small workspace; 40 files > BatchedExecuteThreshold batches execute)
    val root = Files.createTempDirectory("probe-root").toString
    (0 until 40).foreach { i =>
      write(s"$root/docs/p$i.md",
        s"# Probe $i\nAlpha bravo charlie probe document number $i. " +
          ("Spark engines shuffle partitions across executors in stages. " * (2 + i % 3)))
    }
    val engine = new Engine(spark,
      Files.createTempDirectory("probe-store").toString + "/chunks", Seq(root))
    val sites = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    DriverProbe.reset()
    DriverProbe.hook = (site, rows, bound) => {
      sites.merge(site, (rows, bound),
        (a: (Long, Long), b: (Long, Long)) => if (a._1 >= b._1) a else b)
      ()
    }
    try {
      val s = engine.sync(distributedThreshold = 1)
      assert(s.upserted === 40, s"summary: $s; sites: $sites")
      val work = sites.get("sync_plan_work")
      assert(work !== null, "distributed plan must report its work collect")
      assert(work._1 === 40L && work._1 <= work._2)
      // warm re-sync through the same distributed path: plan-only, skips
      val s2 = engine.sync(distributedThreshold = 1)
      assert(s2.skipped === 40)
      assert(sites.get("sync_plan_work")._1 <= sites.get("sync_plan_work")._2)
      assert(DriverProbe.maxRows <= 40L,
        s"sync materialized ${DriverProbe.maxRows} driver rows for a 40-file batch")
    } finally DriverProbe.hook = null
  }

  test("batched sync execute: 100+ dirty files, O(1) jobs, counts equal the loop path") {
    // two identical workspaces, two engines: one forced down the per-file
    // execute loop, one down the batched binaryFile→chunk+embed→single-
    // overwrite executor
    def fill(root: String): Unit = {
      (0 until 104).foreach { i =>
        write(s"$root/docs/f$i.md",
          s"# Doc $i\nAlpha bravo charlie document number $i. " +
            ("Spark engines shuffle partitions across executors. " * (1 + i % 3)))
      }
      (0 until 6).foreach(i => write(s"$root/docs/empty$i.txt", "  \n \n"))
    }
    val rootA = Files.createTempDirectory("bsync-a").toString
    val rootB = Files.createTempDirectory("bsync-b").toString
    fill(rootA); fill(rootB)
    val loopEngine = new Engine(spark,
      Files.createTempDirectory("bsync-sa").toString + "/chunks", Seq(rootA))
    val batchEngine = new Engine(spark,
      Files.createTempDirectory("bsync-sb").toString + "/chunks", Seq(rootB))

    def countJobs(body: => Engine#SyncSummary): (Engine#SyncSummary, Int) = {
      val (s, descs) = jobDescriptions(body)
      (s, descs.size)
    }

    val (loopSummary, loopJobs) =
      countJobs(loopEngine.sync(batchExecuteThreshold = Int.MaxValue))
    val (batchSummary, batchJobs) =
      countJobs(batchEngine.sync(batchExecuteThreshold = 1))
    assert(loopSummary.upserted === 104L && loopSummary.empty === 6L)
    assert(batchSummary === loopSummary)
    // the scale claim: the loop path schedules O(files) jobs, the batched
    // path O(1) — at minimum 3× fewer here, dominated by the shared
    // once-per-batch index refresh
    assert(batchJobs * 3 < loopJobs,
      s"batched execute not O(1): $batchJobs jobs vs loop $loopJobs")
    // identical corpus content (ids/timestamps differ by construction:
    // the batch shares one ingest timestamp)
    def state(e: Engine) = e.store.read()
      .select("filePath", "chunkIndex", "text").collect()
      .map(r => (r.getString(0).split('/').last, r.getInt(1), r.getString(2)))
      .sorted.toSeq
    assert(state(batchEngine) === state(loopEngine))

    // mutate both workspaces identically: edits, deletes, unchanged files
    Seq(rootA, rootB).foreach { root =>
      write(s"$root/docs/f3.md",
        "# Doc 3\nCompletely revised content about broadcast joins in spark. " +
          "Broadcast hash joins ship the small dimension table to every executor. " +
          "The optimizer picks them automatically below the size threshold.")
      write(s"$root/docs/f7.md",
        "# Doc 7\nAlso revised, now discussing shuffle partitions in detail. " +
          "Shuffle partitions determine the parallelism of every exchange stage. " +
          "Adaptive execution coalesces them at runtime when they are small.")
      (20 until 23).foreach(i => Files.delete(Paths.get(s"$root/docs/f$i.md")))
    }
    val loop2 = loopEngine.sync(batchExecuteThreshold = Int.MaxValue)
    val batch2 = batchEngine.sync(batchExecuteThreshold = 1)
    assert(loop2.upserted === 2L && loop2.pruned === 3L)
    assert(batch2 === loop2)
    assert(state(batchEngine) === state(loopEngine))
    // queries over the batch-built store behave identically
    val hit = batchEngine.queryDocuments("revised broadcast joins", limit = 3)
      .collect().head
    assert(hit.getAs[String]("filePath").endsWith("f3.md") ||
      hit.getAs[String]("filePath").endsWith("f7.md"))
  }

  test("golden fixtures: the two un-oracled flagship pipelines are hash-pinned") {
    import org.apache.spark.sql.functions.col
    // The driver cannot DuckDB-oracle rag_ingest_chunks / rag_e2e_search
    // (Max-Min chunking + hashed embeddings are not SQL-expressible), so
    // the repo SELF-oracles them: the full result hash on the
    // deterministic HashedEmbedder at sf0.01 is pinned as a fixture. A
    // failure here means chunking/embedding/hybrid-scoring semantics
    // drifted — update a constant only with an intentional, explained
    // change (and re-derive it from this same canonicalHash).
    def canonicalHash(df: org.apache.spark.sql.DataFrame): String = {
      val cols = df.columns.sorted
      val body = df.select(cols.map(col): _*).collect()
        .map(_.toSeq.map(String.valueOf).mkString(""))
        .sorted.mkString("\n")
      java.security.MessageDigest.getInstance("MD5")
        .digest((cols.mkString(",") + "\n" + body).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }
    val sf = "/root/testdata/sf0.01"
    val ingest = graft.SparkEntry.queries("rag_ingest_chunks")(spark, sf)
    val e2e = graft.SparkEntry.queries("rag_e2e_search")(spark, sf)
    // f16_strip_boundaries is the third un-oracled pipeline (stage-2
    // boundary detection runs on embedding cosines): same self-oracle.
    val strip = graft.SparkEntry.queries("f16_strip_boundaries")(spark, sf)
    assert(ingest.count() === 498L)
    assert(e2e.count() === 5L)
    assert(strip.count() === 2500L)
    assert((canonicalHash(ingest), canonicalHash(e2e), canonicalHash(strip)) ===
      (("d6a59d81322e1b798c480dbdddaa5a97", "7130e1cbbbd060109a89121e6e3e0ed5",
        "b658f25819e4fa6d6d21d13d32df0b52")))
  }

  test("empty ingest preserves existing rows (zero-chunk invariant)") {
    val (engine, root) = mkEngine()
    engine.sync()
    val before = engine.status()
    write(s"$root/spark.md", "   ")
    val s = engine.sync()
    // empty.txt is re-attempted every sync (never in the DB) → 2 empties
    assert(s.empty === 2)
    assert(engine.status() === before) // old chunks for spark.md retained
  }

  test("pre-migration store: sync re-ingests hashless rows, then converges") {
    val root = Files.createTempDirectory("legacy-root").toString
    val store = Files.createTempDirectory("legacy-store").toString + "/chunks"
    write(s"$root/a.md", "# Doc A\nSome stable content about spark executors and shuffles here.")
    write(s"$root/b.md", "# Doc B\nEntirely different prose describing pasta sauce technique.")
    new Engine(spark, store, Seq(root)).sync()

    // simulate a table written before fileTitle/contentHash existed: a
    // store whose committed files lack both columns
    val legacyStore = store + "-legacy"
    new graft.store.ChunkStore(spark, legacyStore).insert(
      new graft.store.ChunkStore(spark, store).read().drop("fileTitle", "contentHash"))

    // null content hashes are DIRTY, never converged (reference re-hashes
    // hashless rows): every file re-upserts once, then the store converges
    val engine = new Engine(spark, legacyStore, Seq(root))
    assert(engine.store.read().filter("contentHash IS NULL").count() === 2L)
    val s1 = engine.sync()
    assert(s1.upserted === 2 && s1.skipped === 0)
    assert(engine.store.read().filter("contentHash IS NULL").count() === 0)
    val s2 = engine.sync()
    assert(s2.upserted === 0 && s2.skipped === 2)
  }

  test("ANN read path: persisted index agrees with brute force; incremental refresh serves new docs") {
    val root = Files.createTempDirectory("ann-root").toString
    val store = Files.createTempDirectory("ann-store").toString + "/chunks"
    val topics = Seq("spark shuffle partitions executors", "pasta cooking tomato sauce",
      "quantum physics particle spin", "football match winning goals",
      "garden flowers spring bloom", "database index btree lookup")
    for (i <- 0 until 30)
      write(s"$root/doc$i.md",
        s"# Doc $i\n" + s"${topics(i % 6)} paragraph number $i. " * 5)
    // annProbes = annLists ⇒ the probe is exhaustive, so the indexed route
    // must agree with brute force EXACTLY — what's under test is the routing
    // and the persisted layout, not recall (gated in StoreSearchSpec);
    // annThreshold=1 forces the index on at this corpus size
    val annEngine = new Engine(spark, store, Seq(root),
      annLists = 4, annProbes = 4, annThreshold = 1L)
    val s = annEngine.sync()
    assert(s.upserted === 30)
    assert(annEngine.annIndex.exists)
    assert(annEngine.annIndex.rowCount() === annEngine.status()._1)

    // a second engine over the SAME store with an unreachable threshold
    // stays on the exact brute-force scan — the two paths must agree
    val bruteEngine = new Engine(spark, store, Seq(root),
      annThreshold = Long.MaxValue)
    def rows(e: Engine) =
      e.queryDocuments("spark shuffle partitions", limit = 10)
        .select("filePath", "chunkIndex", "score", "boosted").collect().toSeq
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    assert(rows(annEngine) === rows(bruteEngine))
    // a scoped query takes the exact scan and keeps to its scope
    val scoped = annEngine.queryDocuments("paragraph number", limit = 5,
      scope = Seq(s"$root/doc7.md"))
    assert(scoped.collect().forall(_.getAs[String]("filePath").endsWith("doc7.md")))

    // single-file ingest above threshold refreshes the index — the new doc
    // must be immediately probe-visible
    write(s"$root/doc30.md",
      "# Doc 30\nentirely novel topic: volcano geology magma chambers erupting basalt.")
    annEngine.ingestFile(s"$root/doc30.md")
    val hit = annEngine.queryDocuments("volcano geology magma", limit = 3).collect().head
    assert(hit.getAs[String]("filePath").endsWith("doc30.md"))
  }

  test("scoped query above the ANN threshold returns the brute-force rows for a far scope") {
    // one probed list (annProbes = 1) holds the chunks nearest the query;
    // a scope over a distant topic has none there, so a probe-then-filter
    // route would come back short or empty. Scoped queries take the exact
    // scan, which applies the scope before the top-k.
    val root = Files.createTempDirectory("annscope-root").toString
    val store = Files.createTempDirectory("annscope-store").toString + "/chunks"
    for (i <- 0 until 24)
      write(s"$root/near/doc$i.md",
        s"# Near $i\n" + s"spark shuffle partitions executors stage $i. " * 5)
    for (i <- 0 until 6)
      write(s"$root/far/doc$i.md",
        s"# Far $i\n" + s"pasta cooking tomato sauce basil garlic $i. " * 5)
    val annEngine = new Engine(spark, store, Seq(root),
      annLists = 8, annProbes = 1, annThreshold = 1L)
    assert(annEngine.sync().upserted === 30)
    assert(annEngine.annIndex.exists)
    val bruteEngine = new Engine(spark, store, Seq(root), annThreshold = Long.MaxValue)
    def rows(e: Engine) =
      e.queryDocuments("spark shuffle partitions", limit = 5, scope = Seq(s"$root/far"))
        .select("filePath", "chunkIndex", "score", "boosted").collect().toSeq
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    val expected = rows(bruteEngine)
    assert(expected.size === 5)
    assert(expected.forall(_._1.startsWith(s"$root/far/")))
    assert(rows(annEngine) === expected)
  }

  /** `body`'s Spark jobs, as the job description each ran under (the
    * action's call site when none), from a [[Profile]] window */
  private def jobDescriptions[A](body: => A): (A, Seq[String]) = {
    val (out, rec) = Profile.window(spark.sparkContext)(body)
    (out, rec.jobs.map(_.label))
  }

  test("ANN threshold crossing: below it a refresh trains nothing; every mutation job is described") {
    val root = Files.createTempDirectory("annx-root").toString
    val store = Files.createTempDirectory("annx-store").toString + "/chunks"
    for (i <- 0 until 6)
      write(s"$root/doc$i.md", s"# Doc $i\n" + s"spark shuffle partitions executors $i. " * 5)
    val brute = new Engine(spark, store, Seq(root), annThreshold = Long.MaxValue)
    assert(brute.sync().upserted === 6)
    val base = brute.status()._1
    // the threshold sits just above the store: one more chunk stays below
    // it, a second crosses it. annProbes = annLists makes the probe
    // exhaustive, so the IVF route must return the exact rows.
    val engine = new Engine(spark, store, Seq(root),
      annLists = 4, annProbes = 4, annThreshold = base + 2)
    val ann = "graft index: ANN refresh"
    def rows(e: Engine) =
      e.queryDocuments("spark shuffle partitions", limit = 10)
        .select("filePath", "chunkIndex", "score", "boosted").collect().toSeq
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))

    // below: the manifest's chunk count drops the index, no job runs
    write(s"$root/tiny.md", "Volcano geology studies magma chambers erupting basalt.")
    val (tiny, belowJobs) = jobDescriptions(engine.ingestFile(s"$root/tiny.md"))
    assert(tiny.chunkCount === 1L && engine.status()._1 === base + 1)
    assert(belowJobs.count(_ == ann) === 0, belowJobs.mkString(", "))
    assert(belowJobs.count(_.startsWith("graft index:")) <= 1, belowJobs.mkString(", "))
    // the first query after the mutation reads the fresh index in one job
    val (_, queryJobs) = jobDescriptions(rows(engine))
    assert(queryJobs.count(_ == "graft query: bm25") === 1, queryJobs.mkString(", "))
    assert(!engine.annIndex.exists && !Files.exists(Paths.get(store + "-ann")))
    assert(belowJobs.forall(d => d != null && d.startsWith("graft ")),
      s"undescribed ingestFile jobs: ${belowJobs.mkString(", ")}")

    // crossing: the same refresh trains and persists the index, and an
    // unscoped query reads its assignments
    write(s"$root/cross.md",
      "# Cross\nBasalt magma chambers feed the volcano beneath the crater rim every spring.")
    engine.ingestFile(s"$root/cross.md")
    assert(engine.status()._1 >= base + 2)
    assert(engine.annIndex.exists)
    assert(engine.annIndex.rowCount() === engine.status()._1)
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = scanned.add(qe.executedPlan.toString): Unit
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val ivfRows =
      try jobDescriptions(rows(engine))._1 // the window drains the listener bus
      finally spark.listenerManager.unregister(qel)
    import scala.jdk.CollectionConverters._
    assert(scanned.asScala.exists(_.contains("-ann/data/assignments-")),
      "an unscoped query above the threshold must take the IVF route")
    assert(ivfRows === rows(brute))

    // back below: deleteDocument drops the index, queries brute-force
    val (_, deleteJobs) = jobDescriptions(engine.deleteDocument(s"$root/cross.md"))
    assert(engine.status()._1 === base + 1)
    assert(deleteJobs.count(_ == ann) <= 1, deleteJobs.mkString(", "))
    assert(!engine.annIndex.exists && engine.annIndex.rowCount() === 0L)
    assert(deleteJobs.forall(d => d != null && d.startsWith("graft ")),
      s"undescribed deleteDocument jobs: ${deleteJobs.mkString(", ")}")
    assert(rows(engine) === rows(brute))

    // a per-file sync (one edit, one prune) describes every job too
    write(s"$root/doc0.md",
      "# Doc 0\nRewritten: granite and obsidian rocks cool from lava flows near the summit.")
    Files.delete(Paths.get(s"$root/doc1.md"))
    Files.delete(Paths.get(s"$root/cross.md"))
    val (summary, syncJobs) = jobDescriptions(engine.sync())
    assert(summary.upserted === 1L && summary.pruned === 1L)
    assert(syncJobs.forall(d => d != null && d.startsWith("graft ")),
      s"undescribed sync jobs: ${syncJobs.mkString(", ")}")
    assert(syncJobs.count(_ == ann) <= 1)
  }

  test("no-op sync: no job on an unchanged version, one catalog scan after a commit") {
    val root = Files.createTempDirectory("noop-root").toString
    val store = Files.createTempDirectory("noop-store").toString + "/chunks"
    for (i <- 0 until 8)
      write(s"$root/doc$i.md", s"# Doc $i\n" + s"spark shuffle partitions executors $i. " * 5)
    val engine = new Engine(spark, store, Seq(root))
    assert(engine.sync().upserted === 8)
    // the first sync after a commit: the commit's n_files routes, and the
    // catalog it plans against is read once (on the driver, with no job)
    val (first, firstJobs) = jobDescriptions(engine.sync())
    assert(first.skipped === 8 && first.upserted === 0 && first.pruned === 0)
    assert(firstJobs.forall(_ == "graft sync: gather+plan"), firstJobs.mkString(", "))
    assert(firstJobs.size <= 1, firstJobs.mkString(", "))
    // an unchanged version: the catalog is memoized on its directory
    val (summary, jobs) = jobDescriptions(engine.sync())
    assert(summary.skipped === 8 && summary.upserted === 0 && summary.pruned === 0)
    assert(jobs.isEmpty, jobs.mkString(", "))
  }

  test("read calls describe every job: a cold listFiles, a plain IVF-route query, neighbors") {
    val root = Files.createTempDirectory("readdesc-root").toString
    val store = Files.createTempDirectory("readdesc-store").toString + "/chunks"
    for (i <- 0 until 8)
      write(s"$root/doc$i.md", s"# Doc $i\n" + s"spark shuffle partitions executors $i. " * 5)
    val engine = new Engine(spark, store, Seq(root), annLists = 2, annProbes = 1, annThreshold = 1L)
    assert(engine.sync().upserted === 8 && engine.annIndex.exists)
    val (listed, listJobs) = jobDescriptions(engine.listFiles().collect())
    assert(listed.length === 8)
    // the catalog slices are read on the driver: even cold, no job
    assert(listJobs.isEmpty, listJobs.mkString(", "))
    val (hits, queryJobs) = jobDescriptions(
      engine.queryDocuments("spark shuffle partitions").collect())
    assert(hits.nonEmpty)
    assert(queryJobs.contains("graft query: text"), "the IVF route fetches the probed rows' text")
    assert(queryJobs.forall(d => d != null && d.startsWith("graft ")),
      s"undescribed query jobs: ${queryJobs.mkString(", ")}")
    val (_, neighborJobs) = jobDescriptions(
      engine.readChunkNeighbors(s"$root/doc3.md", 0).collect())
    assert(neighborJobs === Seq("graft neighbors"))
  }

  test("every commit vacuums its store: aged unreferenced directories go, fresh ones and both live versions stay") {
    val root = Files.createTempDirectory("vacuum-root").toString
    val base = Files.createTempDirectory("vacuum-store").toString + "/chunks"
    write(s"$root/a.md", "# A\nSpark executors process partitions in parallel across the cluster.")
    write(s"$root/b.md", "# B\nPasta sauce simmers slowly with tomatoes, garlic and basil leaves.")
    val engine = new Engine(spark, base, Seq(root), annThreshold = 1L)
    engine.sync()
    val hourAgo = System.currentTimeMillis() - 3600 * 1000L
    val roots = Seq("", "-fts", "-ann").map(suffix => new java.io.File(base + suffix))
    // every directory aged past retention, and two orphans per store (a
    // crashed writer's directories), stale and fresh
    val planted = roots.map { r =>
      val data = new java.io.File(r, "data")
      data.listFiles().foreach(_.setLastModified(hourAgo))
      val stale = new java.io.File(data, "orphan-111")
      val fresh = new java.io.File(data, "orphan-222")
      stale.mkdirs(); fresh.mkdirs()
      stale.setLastModified(hourAgo)
      val live = new graft.store.StoreLog(spark, r.toString).latest().referenced
      (data, live.map(_.stripPrefix("data/")), stale, fresh)
    }
    // one mutation commits a new version of every store
    write(s"$root/a.md", "# A\nRewritten: executors shuffle blocks between stages.")
    assert(engine.sync().upserted === 1L)
    // the chunk store keeps its last ChunkStore.KeepVersions versions, the
    // index stores their last two
    val keeps = Seq(graft.store.ChunkStore.KeepVersions, 2, 2)
    for (((data, previous, stale, fresh), keep) <- planted.zip(keeps)) {
      assert(!stale.exists, s"stale unreferenced directory kept: $stale")
      assert(fresh.exists, s"fresh unreferenced directory (possible in-flight write) swept: $fresh")
      assert(previous.forall(d => new java.io.File(data, d).exists),
        s"the previous version's directories must stay for in-flight readers: $data")
      assert(new java.io.File(data.getParentFile, "_log").list()
        .count(_.endsWith(".json")) <= keep)
    }
    assert(engine.queryDocuments("executors shuffle").count() > 0)
  }

  test("engine-default IVF read path: recall@10 vs brute force at production probes") {
    // the OpsSpec gates measure Similarity.* directly; this measures the
    // ROUTE USERS HIT — Engine.queryDocuments with the production defaults
    // (annLists=16, annProbes=8, i.e. half the lists probed) against the
    // same engine forced onto the exact brute-force scan. Recall@10 is
    // averaged over topically distinct queries; the measured value is
    // recorded in PERF.md next to the SRP multi-probe curve.
    val root = Files.createTempDirectory("annrec-root").toString
    val store = Files.createTempDirectory("annrec-store").toString + "/chunks"
    val topics = Seq("spark shuffle partitions executors", "pasta cooking tomato sauce",
      "quantum physics particle spin", "football match winning goals",
      "garden flowers spring bloom", "database index btree lookup",
      "mountain climbing rope harness", "violin orchestra concert strings")
    for (i <- 0 until 96)
      write(s"$root/doc$i.md",
        s"# Doc $i\n" + s"${topics(i % 8)} paragraph number $i variant ${i / 8}. " * 4)
    val ivf = new Engine(spark, store, Seq(root),
      annThreshold = 1L) // production annLists=16/annProbes=8 defaults
    assert(ivf.sync().upserted === 96)
    assert(ivf.annIndex.exists)
    val brute = new Engine(spark, store, Seq(root),
      annThreshold = Long.MaxValue)
    val queries = Seq("spark shuffle partitions", "pasta tomato dinner",
      "quantum particle", "football goals", "garden bloom",
      "database lookup", "climbing harness", "orchestra strings")
    def top10(e: Engine, q: String) =
      e.queryDocuments(q, limit = 10)
        .select("filePath", "chunkIndex").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
    val recalls = queries.map { q =>
      val b = top10(brute, q)
      if (b.isEmpty) 1.0 else top10(ivf, q).intersect(b).size.toDouble / b.size
    }
    val recall = recalls.sum / recalls.size
    info(f"engine-default IVF read-path recall@10 = $recall%.3f " +
      s"(per-query: ${recalls.map(r => f"$r%.2f").mkString(", ")})")
    assert(recall >= 0.8, s"engine read-path recall@10 $recall < 0.8")
  }

  test("exportCorpus: chunk table lands in the sharded training layout") {
    val (engine, _) = mkEngine()
    engine.sync()
    val nChunks = engine.status()._1 // (chunks, files)
    assert(nChunks > 0L)
    val out = Files.createTempDirectory("engine-export").toString + "/corpus"
    engine.exportCorpus(out, numShards = 4, maxRecordsPerFile = 50)
    val back = spark.read.parquet(out)
    // every chunk lands exactly once, with its placement columns
    assert(back.count() === nChunks)
    assert(back.columns.contains("split") && back.columns.contains("shard"))
    assert(back.select("doc_id").distinct().count() === nChunks)
    // directory hierarchy is split=/shard= (no lang stratum for chunks)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("split=")), dirs.mkString(","))
    // an empty corpus export is refused, not written unreadably
    val (empty, _) = (new Engine(spark,
      Files.createTempDirectory("engine-empty").toString + "/chunks",
      Seq(Files.createTempDirectory("engine-empty-root").toString)), ())
    intercept[IllegalArgumentException] {
      empty.exportCorpus(Files.createTempDirectory("engine-export2").toString + "/c")
    }
  }

  test("exportCorpus zorderBy: clustered export prunes range reads via the sidecar") {
    import graft.ops.ZOrder
    import graft.ops.ZOrder.ZRange
    // a corpus with three distinct document-length classes, so text_len is
    // a real clustering dimension
    val root = Files.createTempDirectory("zexp-root").toString
    (0 until 60).foreach { i =>
      write(s"$root/docs/d$i.md",
        s"# Doc $i\nAlpha bravo charlie document number $i. " +
          ("Spark engines shuffle partitions across executors at scale. " * (1 + (i % 3) * 4)))
    }
    val engine = new Engine(spark,
      Files.createTempDirectory("zexp-store").toString + "/chunks", Seq(root))
    engine.sync()
    val out = Files.createTempDirectory("zexp-out").toString + "/corpus"
    engine.exportCorpus(out, zorderBy = Seq("text_len", "chunk_index"),
      zorderFiles = 8)
    // sidecar states every file; a narrow text_len range opens a strict
    // subset of the layout (the OpsSpec pruning pin, through the engine
    // tool), and the pruned read is exact
    val all = engine.store.read().count()
    assert(ZOrder.stats(spark, out).agg(
      org.apache.spark.sql.functions.sum("n_rows")).head().getLong(0) === all)
    val lens = spark.read.parquet(s"$out/data")
      .select("text_len").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    val (lo, hi) = (lens.head.toDouble, lens(lens.length / 4).toDouble)
    val (sel, tot) = ZOrder.prunedPaths(spark, out,
      Seq(ZRange("text_len", lo, hi)))
    assert(sel.size < tot.toInt,
      s"clustered export did not prune: opened ${sel.size} of $tot files")
    val got = ZOrder.read(spark, out, Seq(ZRange("text_len", lo, hi))).count()
    val want = lens.count(l => l >= lo && l <= hi).toLong
    assert(got === want && want > 0L)
  }

  test("PDF ingest end-to-end: sync (loop + batched), search, title, idempotent re-sync") {
    import java.io.ByteArrayOutputStream
    import java.util.zip.Deflater
    def deflate(raw: Array[Byte]): Array[Byte] = {
      val d = new Deflater(); d.setInput(raw); d.finish()
      val out = new ByteArrayOutputStream(); val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    def pdfBytes(title: String, sentences: Seq[String]): Array[Byte] = {
      val content = "BT /F1 12 Tf 72 720 Td " +
        sentences.map(s => s"($s) Tj 0 -20 Td ").mkString + "ET"
      val data = deflate(content.getBytes(StandardCharsets.ISO_8859_1))
      val sb = new StringBuilder
      sb ++= "%PDF-1.4\n"
      sb ++= "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
      sb ++= "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n"
      sb ++= "3 0 obj\n<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>\nendobj\n"
      sb ++= s"4 0 obj\n<< /Length ${data.length} /Filter /FlateDecode >>\nstream\n"
      sb ++= new String(data, StandardCharsets.ISO_8859_1)
      sb ++= "\nendstream\nendobj\n"
      sb ++= s"5 0 obj\n<< /Title ($title) /Producer (spec) >>\nendobj\n"
      sb ++= "trailer\n<< /Root 1 0 R /Size 6 >>\n%%EOF\n"
      sb.toString.getBytes(StandardCharsets.ISO_8859_1)
    }
    val root = Files.createTempDirectory("pdf-root").toString
    Files.createDirectories(Paths.get(s"$root/docs"))
    Files.write(Paths.get(s"$root/docs/volcano.pdf"), pdfBytes("Volcano Geology",
      Seq("Volcano geology explains how magma chambers feed eruptions.",
        "Basalt columns form when thick lava flows cool slowly over years.",
        "Seismometers detect tremor swarms before most major eruptions begin.")))
    write(s"$root/docs/pasta.md",
      "# Pasta Guide\nBoil water with salt and cook pasta until al dente for a classic dinner.")

    // loop path (below the batch threshold)
    val engine = new Engine(spark,
      Files.createTempDirectory("pdf-store").toString + "/chunks", Seq(root))
    val s1 = engine.sync()
    assert(s1.upserted === 2, s1)
    // idempotent re-sync is THE raw-hash parity gate: a wrong stored hash
    // (e.g. hash of extracted text) would re-upsert the PDF here
    val s2 = engine.sync()
    assert(s2.upserted === 0 && s2.skipped === 2, s2)
    // searchable + metadata title from the Info dict
    val top = engine.queryDocuments("magma chamber eruption geology", limit = 3)
      .collect().head
    assert(top.getAs[String]("filePath").endsWith("volcano.pdf"))
    assert(top.getAs[String]("fileTitle") === "Volcano Geology")

    // batched path: same corpus through the ONE-job executor
    val engine2 = new Engine(spark,
      Files.createTempDirectory("pdf-store2").toString + "/chunks", Seq(root))
    val b1 = engine2.sync(batchExecuteThreshold = 1)
    assert(b1.upserted === 2, b1)
    val b2 = engine2.sync(batchExecuteThreshold = 1)
    assert(b2.upserted === 0 && b2.skipped === 2, b2)
    // both paths store identical chunk text for the PDF
    def pdfText(e: Engine) = e.store.read()
      .filter(org.apache.spark.sql.functions.col("filePath").endsWith("volcano.pdf"))
      .orderBy("chunkIndex")
      .collect().map(_.getAs[String]("text")).mkString("|")
    assert(pdfText(engine) === pdfText(engine2) && pdfText(engine).contains("magma"))
  }

  test("DOCX ingest end-to-end: table rows chunk atomically; idempotent re-sync") {
    import java.io.ByteArrayOutputStream
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val W = """xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main""""
    def docxBytes(title: String, body: String): Array[Byte] = {
      val bos = new ByteArrayOutputStream(); val zip = new ZipOutputStream(bos)
      def entry(n: String, c: String): Unit = {
        zip.putNextEntry(new ZipEntry(n)); zip.write(c.getBytes("UTF-8")); zip.closeEntry()
      }
      entry("word/document.xml",
        s"""<?xml version="1.0"?><w:document $W><w:body>$body</w:body></w:document>""")
      entry("docProps/core.xml",
        """<cp:coreProperties xmlns:cp="http://schemas.openxmlformats.org/package/2006/metadata/core-properties" xmlns:dc="http://purl.org/dc/elements/1.1/">""" +
          s"<dc:title>$title</dc:title></cp:coreProperties>")
      zip.close(); bos.toByteArray
    }
    def para(t: String) = s"<w:p><w:r><w:t>$t</w:t></w:r></w:p>"
    def cell(t: String) = s"<w:tc>${para(t)}</w:tc>"
    val body =
      para("Instrument specifications are listed for every sensor in the array below.") +
        "<w:tbl>" +
        s"<w:tr>${cell("Sensor")}${cell("Range")}</w:tr>" +
        s"<w:tr>${cell("Seismometer")}${cell("0.1 to 50 hertz")}</w:tr>" +
        s"<w:tr>${cell("Tiltmeter")}${cell("1 microradian")}</w:tr>" +
        "</w:tbl>" +
        para("Calibration happens quarterly with reference signals from the observatory.")
    val root = Files.createTempDirectory("docx-root").toString
    Files.createDirectories(Paths.get(s"$root/d"))
    Files.write(Paths.get(s"$root/d/sensors.docx"),
      docxBytes("Sensor Handbook", body))
    write(s"$root/d/note.md", "# Note\nPlain markdown beside the binary document for the mixed batch.")

    val engine = new Engine(spark,
      Files.createTempDirectory("docx-store").toString + "/chunks", Seq(root))
    val s1 = engine.sync()
    assert(s1.upserted === 2, s1)
    val s2 = engine.sync() // raw-hash parity gate
    assert(s2.upserted === 0 && s2.skipped === 2, s2)
    val rows = engine.store.read()
      .filter(org.apache.spark.sql.functions.col("filePath").endsWith("sensors.docx"))
      .collect()
    assert(rows.head.getAs[String]("fileTitle") === "Sensor Handbook")
    // each table row survived as one indivisible Header: value block inside
    // some chunk — the atomic contract, now from real bytes
    val texts = rows.map(_.getAs[String]("text")).mkString("\n")
    assert(texts.contains("Sensor: Seismometer\nRange: 0.1 to 50 hertz"))
    assert(texts.contains("Sensor: Tiltmeter\nRange: 1 microradian"))

    // batched executor path stores identical content
    val engine2 = new Engine(spark,
      Files.createTempDirectory("docx-store2").toString + "/chunks", Seq(root))
    assert(engine2.sync(batchExecuteThreshold = 1).upserted === 2)
    def docxText(e: Engine) = e.store.read()
      .filter(org.apache.spark.sql.functions.col("filePath").endsWith("sensors.docx"))
      .orderBy("chunkIndex").collect().map(_.getAs[String]("text")).mkString("|")
    assert(docxText(engine) === docxText(engine2))
  }

  test("visualCandidates: per-page manifest over workspace PDFs, scope-validated") {
    def onePagePdf(content: String, withImage: Boolean): Array[Byte] = {
      val sb = new StringBuilder
      sb ++= "%PDF-1.4\n"
      sb ++= "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
      sb ++= "2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 /MediaBox [0 0 612 792] >>\nendobj\n"
      val res = if (withImage) " /Resources << /XObject << /Im1 5 0 R >> >>" else ""
      sb ++= s"3 0 obj\n<< /Type /Page /Parent 2 0 R$res /Contents 4 0 R >>\nendobj\n"
      sb ++= s"4 0 obj\n<< /Length ${content.length} >>\nstream\n$content\nendstream\nendobj\n"
      if (withImage)
        sb ++= "5 0 obj\n<< /Subtype /Image /Width 8 /Height 8 /Length 3 >>\nstream\nabc\nendstream\nendobj\n"
      sb ++= "trailer\n<< /Root 1 0 R /Size 6 >>\n%%EOF\n"
      sb.toString.getBytes(StandardCharsets.ISO_8859_1)
    }
    val root = Files.createTempDirectory("vis-root").toString
    Files.createDirectories(Paths.get(s"$root/docs"))
    // a figure page (20% image) and a text-only page, plus a non-PDF
    Files.write(Paths.get(s"$root/docs/figure.pdf"),
      onePagePdf("q 280 0 0 340 150 300 cm /Im1 Do Q", withImage = true))
    Files.write(Paths.get(s"$root/docs/plain.pdf"),
      onePagePdf("BT /F1 12 Tf 72 720 Td (only text here) Tj ET", withImage = false))
    write(s"$root/docs/readme.md", "# Not a PDF\nScanned but never a candidate row.")

    val engine = new Engine(spark,
      Files.createTempDirectory("vis-store").toString + "/chunks", Seq(root))
    val rows = engine.visualCandidates().orderBy("filePath").collect()
    assert(rows.length === 2) // one row per page, PDFs only
    val fig = rows(0)
    assert(fig.getString(0).endsWith("figure.pdf") && fig.getBoolean(2))
    // 280x340 at (150,300): pad x max(12, 22.4)=22.4, y max(12, 27.2)=27.2
    assert(math.abs(fig.getDouble(3) - 127.6) < 1e-9 &&
      math.abs(fig.getDouble(6) - 667.2) < 1e-9)
    val plain = rows(1)
    assert(plain.getString(0).endsWith("plain.pdf") && !plain.getBoolean(2) &&
      plain.isNullAt(3))
    // scoped to a file; out-of-root scope refused like sync
    val scoped = engine.visualCandidates(Seq(s"$root/docs/figure.pdf")).collect()
    assert(scoped.length === 1 && scoped.head.getBoolean(2))
    intercept[IllegalArgumentException] {
      engine.visualCandidates(Seq("/etc/passwd"))
    }
  }

  test("nearDuplicateFiles finds planted near-dup pair, skips distinct files") {
    val root = Files.createTempDirectory("dup-root").toString
    val store = Files.createTempDirectory("dup-store").toString + "/chunks"
    val base = "The quick brown fox jumps over the lazy dog near the old stone " +
      "bridge every morning. Birds sing loudly in the tall green trees beside " +
      "the quiet river while fishermen wait patiently for the first catch of the day."
    write(s"$root/a.md", s"# Doc A\n$base")
    // inline word substitutions (same sentence shapes, so the difference
    // survives chunking) — near-dup, not exact-dup, of a.md
    write(s"$root/b.md", "# Doc B\n" + base
      .replace("quick brown fox", "slow gray wolf")
      .replace("first catch of the day", "best catch of the evening"))
    write(s"$root/c.md", "# Doc C\nCompletely different content about Catalyst " +
      "optimizer rules, whole stage code generation, shuffle partitioning and " +
      "adaptive query execution inside a distributed SQL engine runtime today.")
    val engine = new Engine(spark, store, Seq(root))
    engine.sync()

    val pairs = engine.nearDuplicateFiles(threshold = 0.5).collect()
    assert(pairs.length === 1, pairs.mkString(";"))
    assert(pairs.head.getAs[String]("path_a").endsWith("a.md"))
    assert(pairs.head.getAs[String]("path_b").endsWith("b.md"))
    assert(pairs.head.getAs[Double]("jaccard") >= 0.5)

    // threshold above the pair's similarity → empty
    assert(engine.nearDuplicateFiles(threshold = 0.95).isEmpty)
  }
}
