package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, collect_list, concat_ws, lit}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.embed.HashedEmbedder
import graft.ingest.Ingest
import graft.streaming.StreamingIngest

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  test("streaming chunk ingest equals batch ingest (AvailableNow parity)") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      Ingest.Doc("/s/a.md", "# Title\nApache Spark processes data with distributed operators across many executors. " +
        "It supports joins windows and aggregates over large datasets."),
      Ingest.Doc("/s/b.txt", "Cooking pasta requires boiling water with salt for several minutes until al dente."))
    val mem = MemoryStream[Ingest.Doc]
    mem.addData(docs: _*)
    val out = Files.createTempDirectory("stream-out").toString
    val ckpt = Files.createTempDirectory("stream-ckpt").toString
    val q = StreamingIngest.chunkStream(mem.toDS(), () => new HashedEmbedder(64), "2026-01-01T00:00:00Z")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)

    val streamed = spark.read.parquet(out)
      .select("filePath", "chunkIndex", "text", "contentHash")
      .as[(String, Int, String, String)].collect().sortBy(r => (r._1, r._2))
    val batch = Ingest.buildChunks(docs.toDS(), () => new HashedEmbedder(64), "2026-01-01T00:00:00Z")
      .select("filePath", "chunkIndex", "text", "contentHash")
      .as[(String, Int, String, String)].collect().sortBy(r => (r._1, r._2))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("buildChunks runs a shuffle-bearing input's exchange once; an under-split scan still spreads") {
    // the split-count probe must not execute the input's stages ahead of
    // the real run: a grouped input's exchange writes shuffle data once
    val parts = Seq(
      ("/s/a.md", "Apache Spark processes data with distributed operators across many executors."),
      ("/s/a.md", "It supports joins windows and aggregates over large datasets."),
      ("/s/b.txt", "Cooking pasta requires boiling water with salt until al dente."))
    val grouped = parts.toDF("filePath", "content")
      .groupBy("filePath")
      .agg(concat_ws(" ", collect_list("content")).as("content"))
      .select(col("filePath"), col("content"), lit(null).cast("string").as("rawHash"),
        lit(null).cast("string").as("titleOverride"))
      .as[Ingest.Doc]
    val (rows, rec) = graft.core.Profile.window(spark.sparkContext) {
      Ingest.buildChunks(grouped, () => new HashedEmbedder(64), "2026-01-01T00:00:00Z")
        .select("filePath", "chunkIndex").as[(String, Int)].collect()
    }
    assert(rows.map(_._1).toSet === Set("/s/a.md", "/s/b.txt"))
    assert(rec.shuffleStages === 1, s"${rec.shuffleStages} shuffle-writing stages")

    // a one-split local input (no exchange) is still spread over the cores
    val oneSplit = Seq(Ingest.Doc("/s/c.md", "Short single document.")).toDS()
    val spread = Ingest.buildChunks(oneSplit, () => new HashedEmbedder(64), "2026-01-01T00:00:00Z")
    assert(spread.queryExecution.executedPlan.toString.contains(
      s"RoundRobinPartitioning(${spark.sparkContext.defaultParallelism})"))
  }

  test("windowed counts with watermark over event-time") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val events = mem.toDF().toDF("ts", "event_type")
    val agg = StreamingIngest.windowedCounts(events, "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Update()).start()
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:05:00"), "click"),
      (Timestamp.valueOf("2026-01-01 10:40:00"), "click"),
      (Timestamp.valueOf("2026-01-01 11:10:00"), "view"))
    q.processAllAvailable()
    val rows = spark.sql("SELECT event_type, max(cnt) FROM win_counts GROUP BY 1")
      .as[(String, Long)].collect().toMap
    q.stop()
    assert(rows("click") === 2L)
    assert(rows("view") === 1L)
  }

  test("append mode: watermark advance finalizes and emits closed windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val events = mem.toDF().toDF("ts", "event_type")
    val agg = StreamingIngest.windowedCounts(events, "10 minutes", "1 hour")
    val q = agg.writeStream.format("memory").queryName("win_append")
      .outputMode(OutputMode.Append()).start()
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:05:00"), "click"),
      (Timestamp.valueOf("2026-01-01 10:50:00"), "click"))
    q.processAllAvailable()
    // window [10:00,11:00) still open — nothing emitted in append mode
    assert(spark.sql("SELECT count(*) FROM win_append").as[Long].head() === 0L)
    // an event far past the watermark horizon closes it
    mem.addData((Timestamp.valueOf("2026-01-01 13:00:00"), "view"))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2026-01-01 14:00:00"), "view"))
    q.processAllAvailable()
    val closed = spark.sql(
      "SELECT event_type, cnt FROM win_append WHERE window_start = '2026-01-01 10:00:00'")
      .as[(String, Long)].collect().toMap
    q.stop()
    assert(closed === Map("click" -> 2L))
    // late data for the closed window would now be dropped — state is bounded
  }

  test("file-source AvailableNow ingest writes chunk parquet incrementally") {
    val inDir = Files.createTempDirectory("stream-in").toString
    val out = Files.createTempDirectory("stream-out2").toString
    val ckpt = Files.createTempDirectory("stream-ckpt2").toString
    // docs arrive as JSON files in a watched directory
    Files.write(java.nio.file.Paths.get(s"$inDir/batch1.json"),
      """{"filePath":"/w/a.md","content":"Apache Spark executes distributed queries with resilient partitioned datasets across executor fleets."}"""
        .getBytes("UTF-8"))
    val docs = spark.readStream
      // the optional override columns (absent in the JSON → null) complete
      // the Doc shape; text streams never set them
      .schema("filePath STRING, content STRING, rawHash STRING, titleOverride STRING")
      .json(inDir).as[Ingest.Doc]
    StreamingIngest.runAvailableNow(docs, () => new HashedEmbedder(64),
      "2026-01-01T00:00:00Z", out, ckpt)
    val first = spark.read.parquet(out).count()
    assert(first >= 1)
    // second file arrives; AvailableNow resumes from the checkpoint and
    // processes ONLY the new input (incremental reconciliation shape)
    Files.write(java.nio.file.Paths.get(s"$inDir/batch2.json"),
      """{"filePath":"/w/b.md","content":"Cooking risotto needs constant stirring with warm broth added slowly over gentle heat."}"""
        .getBytes("UTF-8"))
    StreamingIngest.runAvailableNow(docs, () => new HashedEmbedder(64),
      "2026-01-01T00:00:00Z", out, ckpt)
    val paths = spark.read.parquet(out).select("filePath").distinct()
      .as[String].collect().toSet
    assert(paths === Set("/w/a.md", "/w/b.md"))
  }

  test("streaming exact dedup drops cross-batch re-arrivals; watermark bounds state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, String)]
    val docs = mem.toDF().toDF("ts", "fingerprint", "text")
    val q = StreamingIngest.dedupStream(docs, "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode(OutputMode.Append()).start()
    // batch 1: two distinct docs + an in-batch duplicate
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:00:00"), "fpA", "doc a"),
      (Timestamp.valueOf("2026-01-01 10:01:00"), "fpB", "doc b"),
      (Timestamp.valueOf("2026-01-01 10:02:00"), "fpA", "doc a again"))
    q.processAllAvailable()
    // batch 2: a CROSS-batch duplicate (state remembers fpA) + a new doc
    mem.addData(
      (Timestamp.valueOf("2026-01-01 10:05:00"), "fpA", "doc a yet again"),
      (Timestamp.valueOf("2026-01-01 10:06:00"), "fpC", "doc c"))
    q.processAllAvailable()
    val fps = spark.sql("SELECT fingerprint FROM dedup_stream")
      .as[String].collect().toSeq
    assert(fps.sorted === Seq("fpA", "fpB", "fpC")) // each exactly once
    // advance the watermark far past the dedup window: fpA's state entry
    // expires, so a much-later re-arrival is treated as NEW (bounded state —
    // the documented within-watermark semantics, not a corpus-lifetime set)
    mem.addData((Timestamp.valueOf("2026-01-01 12:00:00"), "fpD", "advance"))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2026-01-01 12:01:00"), "fpA", "doc a reborn"))
    q.processAllAvailable()
    val countA = spark.sql(
      "SELECT count(*) FROM dedup_stream WHERE fingerprint = 'fpA'")
      .as[Long].head()
    q.stop()
    spark.catalog.dropTempView("dedup_stream")
    assert(countA === 2L) // once per watermark window, state expired between
  }

  test("multi-batch streaming exact dedup equals batch first-wins dedup") {
    // duplicates land in DIFFERENT doc-id ranges, so with 3 staged files the
    // re-arrivals hit state built in earlier micro-batches — the cross-batch
    // path e_stream_dedup exercises at sf scale
    val corpus = Seq(
      (0L, "alpha beta gamma"), (1L, "delta epsilon"), (2L, "zeta eta theta"),
      (10L, "Alpha  Beta   Gamma"), // batch 2: normalizes to doc 0's fp
      (11L, "iota kappa"),
      (20L, "delta epsilon"), // batch 3: exact copy of doc 1
      (21L, "lambda mu nu")).toDF("doc_id", "text")
    val (out, stats) = StreamingIngest.exactDedupAvailableNow(
      spark, corpus, numFiles = 3)
    val fps = out.select("fp").as[String].collect().toSeq
    assert(fps.distinct.size === fps.size, "a fingerprint was emitted twice")
    val batchFps = corpus
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .distinct().as[String].collect().toSet
    assert(fps.toSet === batchFps)
    assert(stats.batches >= 3, s"expected >= 3 micro-batches, got ${stats.batches}")
  }

  test("streaming incremental near-dup dedup equals the one-shot batch run") {
    // near-dup pairs planted ACROSS doc-id ranges so they only surface via
    // index state built in earlier micro-batches
    val base = "the quick brown fox jumps over the lazy dog near the river bank today"
    val corpus = Seq(
      (0L, base), (1L, "completely different text about cooking pasta with garlic and olive oil for dinner tonight yes"),
      (2L, "a third unrelated document discussing spark shuffle partitions and broadcast joins in detail here"),
      (10L, base + " extra"), // batch 2: near-dup of doc 0
      (11L, "another filler document with enough words to shingle properly across five gram windows okay"),
      (20L, base), // batch 3: exact dup of doc 0 (and near-dup of 10)
      (21L, "final filler text mentioning embeddings vectors indexes and probes for completeness sake right")
    ).toDF("doc_id", "text")
    val (pairs, stats) = StreamingIngest.incrementalDedupAvailableNow(
      spark, corpus, threshold = 0.5, numFiles = 3)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // one-shot twin over the same corpus
    val shingled = corpus
      .withColumn("ws", graft.ops.Dedup.wordsArray("text"))
      .withColumn("shs", graft.ops.Dedup.wordShingles("ws", 5))
    val withSig = shingled.filter(org.apache.spark.sql.functions.size(col("shs")) > 0)
      .withColumn("hs", graft.ops.Dedup.shingleBaseHashes("shs"))
      .withColumn("sig", graft.ops.Dedup.minhashSignature("hs", 16))
    val oneShot = graft.core.Seam.scoped(seam => graft.ops.Dedup.jaccardOnPairs(seam,
        graft.ops.Dedup.lshCandidatePairs(
          graft.ops.Dedup.lshBands(withSig, "doc_id", "sig", 4, 4), "doc_id"),
        shingled, "doc_id", "shs")
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet)
    assert(got === oneShot)
    assert(got.contains((0L, 20L)), "cross-batch exact dup not found via index state")
    assert(got.contains((0L, 10L)), "cross-batch near dup not found via index state")
    assert(stats.batches >= 3, s"expected >= 3 micro-batches, got ${stats.batches}")
    assert(stats.maxStateRows === 7L, "index should hold exactly the signed docs")
  }

  test("streaming dedup result dirs stay bounded: re-run deletes predecessor") {
    // the returned pair scan lives in a JVM-lifetime dir; re-running the
    // SAME query must claim the name and delete the previous run's dir, so
    // a long-lived engine session's disk is bounded by live queries, not by
    // invocation count. Contract: the first run's handle is dead once its
    // producer re-runs.
    val base = "one two three four five six seven eight nine ten eleven twelve"
    val corpus = Seq(
      (0L, base), (1L, "unrelated filler text with enough words to shingle into five gram windows fine"),
      (10L, base + " tail"), // near-dup of 0, later batch
      (11L, "second filler document also long enough for shingles to exist in it okay")
    ).toDF("doc_id", "text")
    val first = StreamingIngest.incrementalDedupAvailableNow(spark, corpus, 0.5, 2)._1
    assert(first.count() > 0, "fixture must emit pairs so a result dir is claimed")
    val dir1 = StreamingIngest.currentResultDir("stream_delta")
      .getOrElse(fail("no result dir claimed by first run"))
    assert(java.nio.file.Files.exists(dir1))
    val second = StreamingIngest.incrementalDedupAvailableNow(spark, corpus, 0.5, 2)._1
    assert(second.count() > 0)
    val dir2 = StreamingIngest.currentResultDir("stream_delta")
      .getOrElse(fail("no result dir claimed by second run"))
    assert(dir2 !== dir1)
    assert(!java.nio.file.Files.exists(dir1), "predecessor result dir must be deleted")
    assert(java.nio.file.Files.exists(dir2))
  }

  test("streaming HLL sketch equals the batch sketch; state stays bounded") {
    import graft.ops.Sketches
    val corpus = (0 until 900).map(i => (i.toLong, s"stream text ${i % 333}"))
      .toDF("doc_id", "text")
    val streamed = StreamingIngest.hllAvailableNow(spark, corpus, b = 6,
      numFiles = 5)._1.head()
    val batch = Sketches.hllEstimate(
      Sketches.hllRegisters(corpus, col("text"), 6), 6).head()
    // commutative max ⇒ the streaming snapshot is bit-identical to batch
    assert(streamed.getLong(0) === batch.getLong(0))       // m
    assert(streamed.getLong(1) === batch.getLong(1))       // n_zero
    assert(streamed.getDouble(2) === batch.getDouble(2))   // est
    assert(streamed.getString(3) === batch.getString(3))   // method
  }

  test("streaming count-min sketch equals the batch sketch grid exactly") {
    import graft.ops.Sketches
    val corpus = (0 until 400).map(i => (i.toLong, s"alpha beta w${i % 57}"))
      .toDF("doc_id", "text")
    val streamed = StreamingIngest.cmsAvailableNow(spark, corpus,
      depth = 4, width = 64, numFiles = 3)._1
    val words = corpus.select(
      org.apache.spark.sql.functions.explode(
        graft.ops.Dedup.wordsArray("text")).as("w"))
    val batch = Sketches.cmsSketch(words, col("w"), 4, 64)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getInt(0), x.getLong(1)) -> x.getLong(2)).toMap
    assert(asMap(streamed) === asMap(batch))
  }

  test("stateful sessionization via mapGroupsWithState") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = StreamingIngest.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Update()).start()
    mem.addData((1L, 100L), (1L, 200L), (2L, 150L))
    q.processAllAvailable()
    mem.addData((1L, 300L))
    q.processAllAvailable()
    val rows = spark.sql("SELECT userId, max(events) FROM sessions GROUP BY 1")
      .as[(Long, Long)].collect().toMap
    q.stop()
    assert(rows(1L) === 3L) // state accumulated across micro-batches
    assert(rows(2L) === 1L)
  }

  test("event-time timeout closes idle sessions and removes their state") {
    implicit val sqlCtx = spark.sqlContext
    // offset from epoch 0: a row whose event time equals the initial
    // watermark (0) is filtered as late before it reaches the state function
    def t(min: Long) = new java.sql.Timestamp((60 + min) * 60000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val q = StreamingIngest.sessionizeWithTimeout(mem.toDS(),
        gapMs = 10L * 60000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("closed_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 1 active at minutes 0 and 5; user 2 at 6
      mem.addData((1L, t(0)), (1L, t(5)), (2L, t(6)))
      q.processAllAvailable()
      // advance event time far past user 1's gap (5 + 10 < 30)…
      mem.addData((2L, t(30)))
      q.processAllAvailable()
      // …and one more batch so the new watermark is applied to timeouts
      mem.addData((2L, t(31)))
      q.processAllAvailable()
      val closed = spark.table("closed_sessions")
        .as[StreamingIngest.ClosedSession].collect().filter(_.userId == 1L)
      assert(closed.length === 1)
      assert(closed.head.events === 2L)
      assert(closed.head.startTs === t(0).getTime && closed.head.endTs === t(5).getTime)

      // state removal is observable: user 1 returns and their NEW session
      // counts from scratch instead of resuming the closed one
      mem.addData((1L, t(40)))
      q.processAllAvailable()
      mem.addData((2L, t(70)))
      q.processAllAvailable()
      mem.addData((2L, t(71)))
      q.processAllAvailable()
      val second = spark.table("closed_sessions")
        .as[StreamingIngest.ClosedSession].collect()
        .filter(s => s.userId == 1L && s.startTs == t(40).getTime)
      assert(second.length === 1)
      assert(second.head.events === 1L) // fresh session, old count not resumed
    } finally q.stop()
  }

  test("sessionization splits gap-separated sessions that arrive before the timeout") {
    implicit val sqlCtx = spark.sqlContext
    def t(min: Long) = new Timestamp((60 + min) * 60000L)
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamingIngest.sessionizeWithTimeout(mem.toDS(),
        gapMs = 10L * 60000L, watermark = "0 seconds")
      .writeStream.format("memory").queryName("split_sessions")
      .outputMode(OutputMode.Append()).start()
    try {
      // two gap-separated sessions in ONE batch: (0,3) then (20)
      mem.addData((1L, t(0)), (1L, t(3)), (1L, t(20)))
      q.processAllAvailable()
      // a third session arriving in a LATER batch, 11 min after t(20):
      // the watermark (at t(20)) has NOT passed t(20)+gap yet, so without
      // the in-handler gap check these would merge into one session
      mem.addData((1L, t(31)))
      q.processAllAvailable()
      val closed = spark.table("split_sessions")
        .as[StreamingIngest.ClosedSession].collect().sortBy(_.startTs)
      assert(closed.map(s => (s.startTs, s.endTs, s.events)).toSeq ===
        Seq((t(0).getTime, t(3).getTime, 2L), (t(20).getTime, t(20).getTime, 1L)))
    } finally q.stop()
  }

  test("sessionize AvailableNow equals the batch gaps-and-islands result with bounded state") {
    // synthetic multi-user timeline: 3 users, sessions separated by > gap
    val base = 1_700_000_000_000L
    val rows = for {
      u <- 1L to 3L; s <- 0 until 4; e <- 0 until 3
    } yield (u, new Timestamp(base + u * 17_000L + s * 3_600_000L + e * 60_000L))
    val ev = rows.toDF("user_id", "ts")
    val (out, stats) = StreamingIngest.sessionizeAvailableNow(
      spark, ev, gapMs = 30L * 60000L, watermarkDelayMs = 30L * 60000L, numFiles = 5)
    val got = out.as[StreamingIngest.ClosedSession].collect()
      .map(s => (s.userId, s.startTs, s.endTs, s.events)).sorted
    val want = rows.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      es.map(_._2.getTime).sorted.grouped(3).map(g => (u, g.head, g.last, g.size.toLong))
    }.sorted
    assert(got.toSeq === want)
    assert(stats.batches > 1)             // state genuinely crossed batches
    assert(stats.maxStateRows <= 4)       // ≤ one row per active user + sentinel
  }

  test("foreachBatch commits micro-batches into the versioned store") {
    implicit val sqlCtx = spark.sqlContext
    val store = new graft.store.ChunkStore(spark,
      Files.createTempDirectory("stream-vstore").toString + "/table")
    val mem = MemoryStream[Ingest.Doc]
    val ckpt = Files.createTempDirectory("stream-vckpt").toString
    val q = StreamingIngest.chunkStream(mem.toDS(), () => new HashedEmbedder(64), "2026-01-01T00:00:00Z")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.core.ChunkSchema.ChunkRow], _: Long) =>
        // per-file upserts make micro-batch REPLAY idempotent: re-processing
        // a batch rewrites the same files to the same content
        val df = batch.toDF().persist()
        val files = df.select("filePath").distinct().as[String](implicitly).collect()
        files.foreach(f => store.upsertFile(f,
          df.filter(org.apache.spark.sql.functions.col("filePath") === f)))
        df.unpersist()
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())

    mem.addData(Ingest.Doc("/v/a.md",
      "Apache Spark processes data with distributed operators across many executors. " +
        "It supports joins windows and aggregates over large datasets."))
    val run1 = q.start(); run1.awaitTermination(60000)
    val v1 = store.latestVersion().get
    assert(store.read().select("filePath").distinct().count() === 1)

    mem.addData(Ingest.Doc("/v/b.md",
      "Cooking pasta requires boiling water with salt for several minutes until al dente."))
    val run2 = q.start(); run2.awaitTermination(60000)
    assert(store.latestVersion().get > v1)
    assert(store.read().select("filePath").distinct().as[String].collect().toSet ===
      Set("/v/a.md", "/v/b.md"))
    // time travel still sees the first commit's state
    assert(store.read(v1).select("filePath").distinct().as[String]
      .collect().toSet === Set("/v/a.md"))
  }

  test("streaming materialized view: per-batch refresh tracks the store incrementally") {
    implicit val sqlCtx = spark.sqlContext
    val root = Files.createTempDirectory("stream-mv").toString
    val store = new graft.store.ChunkStore(spark, s"$root/table")
    val mv = new graft.store.MaterializedView(spark, store, s"$root/view",
      "filePath", Seq(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_chunks")))
    val modes = scala.collection.mutable.ArrayBuffer.empty[String]
    val mem = MemoryStream[Ingest.Doc]
    val ckpt = Files.createTempDirectory("stream-mv-ckpt").toString
    val q = StreamingIngest.chunkStream(mem.toDS(), () => new HashedEmbedder(64), "2026-01-01T00:00:00Z")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.core.ChunkSchema.ChunkRow], _: Long) =>
        val df = batch.toDF().persist()
        val files = df.select("filePath").distinct().as[String](implicitly).collect()
        files.foreach(f => store.upsertFile(f,
          df.filter(org.apache.spark.sql.functions.col("filePath") === f)))
        df.unpersist()
        // the view rides the same commit cadence: refresh cost follows the
        // batch's churned files, not the table
        modes += mv.refresh().mode
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())

    mem.addData(Ingest.Doc("/mv/a.md",
      "Apache Spark processes data with distributed operators across many executors. " +
        "It supports joins windows and aggregates over large datasets."))
    val run1 = q.start(); run1.awaitTermination(60000)
    mem.addData(Ingest.Doc("/mv/b.md",
      "Cooking pasta requires boiling water with salt for several minutes until al dente."))
    val run2 = q.start(); run2.awaitTermination(60000)

    assert(modes.head === "full" && modes.tail.forall(_ === "incremental"))
    val got = mv.read().orderBy("filePath")
      .as[(String, Long)].collect().toSeq
    val scratch = store.read().groupBy("filePath")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_chunks"))
      .orderBy("filePath").as[(String, Long)].collect().toSeq
    assert(got === scratch && got.map(_._1) === Seq("/mv/a.md", "/mv/b.md"))
  }

  test("streaming z-order sink: batches land clustered on the stored key, reads stay exact") {
    import graft.ops.ZOrder
    import graft.ops.ZOrder.ZRange
    implicit val sqlCtx = spark.sqlContext
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select("event_id", "user_id", "value")
    val dir = Files.createTempDirectory("stream-z").toString + "/t"
    // bootstrap: the historical table pins the clustering key...
    ZOrder.writeZOrdered(events.filter(col("event_id") < 700), dir,
      Seq("user_id", "value"), bits = 4, numFiles = 8)
    // ...then the stream maintains the layout per micro-batch — each batch
    // clusters on the STORED key, so upkeep cost follows the batch
    val mem = MemoryStream[(Long, Long, Double)]
    val ckpt = Files.createTempDirectory("stream-z-ckpt").toString
    val q = mem.toDF().toDF("event_id", "user_id", "value")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) ZOrder.appendZOrdered(batch, dir, batchFiles = 2)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    val tail = events.filter(col("event_id") >= 700)
      .as[(Long, Long, Double)].collect()
    val (t1, t2) = tail.splitAt(tail.length / 2)
    mem.addData(t1.toSeq: _*); val r1 = q.start(); r1.awaitTermination(60000)
    mem.addData(t2.toSeq: _*); val r2 = q.start(); r2.awaitTermination(60000)

    val ranges = Seq(ZRange("user_id", 2, 8), ZRange("value", 25.0, 140.0))
    val got = ZOrder.read(spark, dir, ranges)
      .select("event_id").as[Long].collect().sorted.toSeq
    val want = events
      .filter(col("user_id").between(2, 8) && col("value").between(25.0, 140.0))
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(got === want && want.nonEmpty)
    // the streamed layout still prunes
    val (sel, tot) = ZOrder.prunedPaths(spark, dir, Seq(ZRange("value", 25.0, 60.0)))
    assert(sel.size < tot)
    assert(ZOrder.scrub(spark, dir) === ((Seq.empty, Seq.empty)))
  }

  test("stream-stream click attribution joins within the window, drops beyond it") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val actions = MemoryStream[(Long, Timestamp, String)]
    val joined = StreamingIngest.clickAttributionJoin(
      clicks.toDF().toDF("user_id", "ts"),
      actions.toDF().toDF("user_id", "ts", "event_type"),
      windowMs = 10L * 60 * 1000, watermark = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("click_attr")
      .outputMode(OutputMode.Append()).start()
    clicks.addData(
      (1L, Timestamp.valueOf("2026-01-01 10:00:00")),
      (2L, Timestamp.valueOf("2026-01-01 10:00:00")))
    actions.addData(
      (1L, Timestamp.valueOf("2026-01-01 10:05:00"), "purchase"), // in window
      (1L, Timestamp.valueOf("2026-01-01 10:20:00"), "refund"),   // beyond 10 min
      (2L, Timestamp.valueOf("2026-01-01 09:55:00"), "view"),     // before click
      (3L, Timestamp.valueOf("2026-01-01 10:02:00"), "view"))     // no click side
    q.processAllAvailable()
    // advance both watermarks so buffered state can expire
    clicks.addData((9L, Timestamp.valueOf("2026-01-01 12:00:00")))
    actions.addData((9L, Timestamp.valueOf("2026-01-01 12:00:01"), "noise"))
    q.processAllAvailable()
    val rows = spark.sql(
      "SELECT user_id, action_type FROM click_attr WHERE user_id < 9")
      .as[(Long, String)].collect().toSet
    q.stop()
    assert(rows === Set((1L, "purchase")))
  }

  test("multi-batch attribution: state crosses micro-batches, watermark evicts, result equals batch join") {
    import org.apache.spark.sql.functions._
    val events = graft.core.Tables.events(spark, "/root/testdata/sf0.001")
    val (result, stats) = StreamingIngest.attributionAvailableNow(
      spark, events, windowMs = 10L * 60 * 1000, numFiles = 4)
    // a REAL multi-batch run: join state survived at least 3 batch
    // boundaries (4 staged files; a time-slice could in principle be empty)
    assert(stats.batches >= 3, s"expected >=3 micro-batches, got ${stats.batches}")
    // the watermark actually evicted: the join never buffered anywhere near
    // the full corpus (equal-time-span staging keeps state ≈ one slice +
    // the un-evicted watermark tail)
    val total = events.count()
    assert(stats.maxStateRows > 0)
    assert(stats.maxStateRows < (total * 6) / 10,
      s"state peak ${stats.maxStateRows} suggests no eviction (corpus $total)")
    // completeness: exactly the batch range-join, row for row
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"))
    val a = events.filter(col("event_type") =!= "click")
      .select(col("user_id").as("a_user"), col("ts").as("action_ts"),
        col("event_type").as("action_type"))
    val batch = c.join(a, col("user_id") === col("a_user") &&
        col("action_ts") >= col("click_ts") &&
        col("action_ts") <= col("click_ts") + expr("INTERVAL 600000 MILLISECOND"))
      .select(col("user_id"), col("click_ts"), col("action_ts"), col("action_type"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id").cast("string"), col("click_ts").cast("string"),
        col("action_ts").cast("string"), col("action_type"))
        .as[(String, String, String, String)].collect().sorted.toSeq
    assert(key(result) === key(batch))
  }

  test("streaming WARC ingest equals the batch extraction path") {
    // two WARC containers (one gzipped) land in a drop directory; the
    // streaming job must produce EXACTLY the chunks the batch path
    // builds from the same pages — one code path, two triggers
    import graft.ingest.WarcSource
    def page(t: String, body: String) =
      s"""<html><head><title>$t</title></head><body><article><h1>$t</h1>
         |<p>$body</p></article></body></html>""".stripMargin
    val w1 = WarcSource.fixture(2L, Seq(
      "https://crawl.test/a" -> page("Alpha",
        "Structured streaming drains the backlog with the available now trigger.")))
    val w2 = WarcSource.fixture(3L, Seq(
      "https://crawl.test/b" -> page("Beta",
        "Watermarks bound state for unbounded inputs across long pipelines."),
      "https://crawl.test/c" -> page("Gamma",
        "Broadcast joins keep small dimension tables on every executor.")))
    val dir = Files.createTempDirectory("warc-drop")
    Files.write(dir.resolve("seg-00001.warc"), w1)
    Files.write(dir.resolve("seg-00002.warc.gz"), w2)
    val ts = "2026-01-01T00:00:00Z"
    val streamed = StreamingIngest.warcIngestAvailableNow(
      spark, dir.toString, () => new HashedEmbedder(32), ts)
    val batchDocs = (WarcSource.htmlDocs(w1) ++ WarcSource.htmlDocs(w2))
      .map { case (uri, md) => Ingest.Doc(uri, md) }
    val batch = Ingest.buildChunks(
      spark.createDataset(batchDocs), () => new HashedEmbedder(32), ts).toDF()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("filePath"), col("chunkIndex"), col("text"),
        col("vector").cast("string"))
        .as[(String, Int, String, String)].collect().sorted.toSeq
    assert(key(streamed).nonEmpty)
    assert(key(streamed) === key(batch))
  }

  test("Update-mode anomaly feed: watermark bounds state across a multi-day timeline, result equals Complete twin") {
    import org.apache.spark.sql.functions._
    val eventsPath = "/root/testdata/sf0.001/events.parquet"
    val events = graft.core.Tables.events(spark, new java.io.File(eventsPath).getParent)
    // ~30 days of events → ~531 distinct hourly windows. Complete mode
    // holds every one in state forever; the Update run stages 12
    // event-time-ordered slices (~2.5 days each), so the watermark
    // advances at every batch boundary and evicted hours leave the store.
    val (updated, stats) = StreamingIngest.hourlyAnomalyUpdateMode(
      spark, events, numFiles = 12)
    val totalHours = graft.core.Tables
      .events(spark, "/root/testdata/sf0.001")
      .select(date_trunc("hour", col("ts"))).distinct().count()
    assert(stats.batches >= 10, s"expected a real multi-batch run, got ${stats.batches}")
    // bounded state: the high-water mark is the windows of ONE slice plus
    // the un-evicted watermark tail — nowhere near the full timeline
    assert(stats.maxStateRows > 0)
    assert(stats.maxStateRows < totalHours / 2,
      s"state peak ${stats.maxStateRows} vs $totalHours hourly windows " +
        "suggests the watermark never evicted")
    // and eviction lost nothing: row-for-row equal to the Complete twin
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Double, Double)].collect().sorted.toSeq
    val complete = StreamingIngest.hourlyAnomalyAvailableNow(spark, events)._1
    assert(rows(updated).nonEmpty)
    assert(rows(updated) === rows(complete))
  }

  test("Update-mode hourly rollup: watermark bounds state, result equals the Complete twin") {
    import org.apache.spark.sql.functions._
    val eventsPath = "/root/testdata/sf0.001/events.parquet"
    val events = graft.core.Tables.events(spark, new java.io.File(eventsPath).getParent)
    // the rollup keys state on (window, event_type): Complete mode holds
    // every pair of the ~30-day timeline forever; the Update run drains 12
    // strict event-time slices, so evicted windows leave the store and the
    // high-water mark stays near one slice's pairs + the watermark tail
    val (updated, stats) = StreamingIngest.hourlyRollupUpdateMode(
      spark, events, numFiles = 12)
    val totalGroups = graft.core.Tables
      .events(spark, "/root/testdata/sf0.001")
      .select(date_trunc("hour", col("ts")), col("event_type"))
      .distinct().count()
    assert(stats.batches >= 10, s"expected a real multi-batch run, got ${stats.batches}")
    assert(stats.maxStateRows > 0)
    assert(stats.maxStateRows < totalGroups / 2,
      s"state peak ${stats.maxStateRows} vs $totalGroups (hour, type) groups " +
        "suggests the watermark never evicted")
    // and eviction lost nothing: row-for-row equal to the Complete twin
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Double)].collect().sorted.toSeq
    val complete = StreamingIngest.hourlyRollupAvailableNow(spark, events)._1
      .select(col("hour"), col("event_type"), col("cnt"), col("sum_value"))
    assert(rows(updated).nonEmpty)
    assert(rows(updated) === rows(complete))
  }

  test("a failing staged run rethrows and leaves no stage, stream, sink view or checkpoint") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.udf
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    // stage dirs, and the temporary checkpoints Spark creates for a query
    // without a checkpointLocation (and keeps when the query fails)
    def leftovers(): Set[String] = {
      val s = Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("graft_stream_") || n.startsWith("temporary-")).toSet
      finally s.close()
    }
    def sinkViews(): Set[String] = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_stream_")).map(_.name).toSet
    // memory-sink run: a null user_id in the second slice fails the session
    // decode mid-drain
    val t0 = Timestamp.valueOf("2026-01-01 00:00:00").getTime
    val events = Seq[(Option[Long], Timestamp)](
      (Some(1L), new Timestamp(t0)), (Some(1L), new Timestamp(t0 + 60000L)),
      (None, new Timestamp(t0 + 7200000L))).toDF("user_id", "ts")
    // foreachBatch run: the holdout predicate throws on the second slice
    val holdout = udf((id: Long) => if (id >= 10L) sys.error("holdout check failed") else false)
    val corpus = Seq((0L, "alpha beta gamma delta"), (10L, "epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val runs = Seq[() => Any](
      () => StreamingIngest.sessionizeAvailableNow(spark, events, numFiles = 2),
      () => StreamingIngest.cleanPipelineAvailableNow(spark, corpus,
        holdout(col("doc_id")), numFiles = 2))
    val before = leftovers()
    runs.foreach { run =>
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
      assert(leftovers() -- before === Set.empty[String])
      assert(spark.streams.active.isEmpty)
      assert(sinkViews() === Set.empty[String])
    }
  }

  test("staged runs over an empty input drain to empty results") {
    val corpus = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val (hll, _) = StreamingIngest.hllAvailableNow(spark, corpus, b = 6, numFiles = 2)
    val batch = graft.ops.Sketches.hllEstimate(
      graft.ops.Sketches.hllRegisters(corpus, col("text"), 6), 6)
    assert(hll.collect().toSeq === batch.collect().toSeq)
    val events = Seq.empty[(Long, Timestamp, String)].toDF("user_id", "ts", "event_type")
    val (joined, stats) = StreamingIngest.attributionAvailableNow(spark, events, numFiles = 2)
    assert(joined.count() === 0L)
    assert(stats.batches === 0L)
  }
}
