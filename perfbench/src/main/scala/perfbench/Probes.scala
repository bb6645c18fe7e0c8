package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, typedLit}

import graft.chunker.MaxMinChunker
import graft.core.GraftSession
import graft.embed.HashedEmbedder
import graft.ingest.{DirectoryScanner, Ingest}
import graft.queries.Registry
import graft.search.{Bm25, HybridSearch, VectorSearch}
import graft.store.{AnnIndexStore, ChunkStore, FtsIndexStore}
import graft.sync.SyncPlanner
import perfbench.Json._

/** The traced run's layer probes: direct calls into each module's public
  * functions on a small generated corpus, each under a span of its layer.
  * Every value is a median over repeats unless it is a rate or a ratio. */
object Probes {
  private val Ids = Seq("filePath", "chunkIndex")
  private val Reps = 3

  def run(ctx: Main.Ctx, spec: JsonNode): ObjectNode = {
    val spark = ctx.spark
    import spark.implicits._
    val rec = ctx.rec
    val out = Json.obj()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    /** `body` once under a span of `layer`: its result and wall seconds */
    def timed[T](name: String, layer: String)(body: => T): (T, Double) = {
      val t0 = rec.nowMs
      val r = rec.span(name, layer)(body)
      (r, (rec.nowMs - t0) / 1000)
    }
    /** median wall ms of `reps` runs of `body`, each its own span */
    def timeMs(name: String, layer: String, reps: Int = Reps)(body: => Any): Double =
      median((1 to reps).map(_ => timed(name, layer)(body)._2 * 1000))

    val files = spec.strs("files").map(ctx.abs)
    val texts = files.map(f =>
      new String(Files.readAllBytes(Paths.get(f)), StandardCharsets.UTF_8))
    val userBytes = texts.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum
    val emb = new HashedEmbedder(Main.Dim)
    val queries = spec.strs("queries")

    // chunker (its sentence embeddings included) and embed
    val (chunks, chunkS) = timed("chunker.chunkText", "chunker")(
      texts.map(t => MaxMinChunker.chunkText(t, emb.embedBatch)))
    out.put("chunker.docs_per_s", texts.size / chunkS)
    val chunkTexts = chunks.flatten.map(_.text)
    out.put("embed.chunks_per_s", chunkTexts.size /
      timed("embed.embedBatch", "embed")(emb.embedBatch(chunkTexts))._2)
    out.put("embed.query_us", 1e6 / queries.size *
      timed("embed.query", "embed")(queries.foreach(emb.embed))._2)

    // ingest: content hashing and the directory walk sync and listFiles do
    val (hashes, hashS) = timed("ingest.sha256Hex", "ingest")(texts.map(Ingest.sha256Hex))
    out.put("ingest.hash_mb_per_s", userBytes / 1048576.0 / hashS)
    val root = ctx.abs(spec.str("root"))
    out.put("ingest.scan_ms", timeMs("ingest.scanRoots", "ingest")(
      DirectoryScanner.scanRoots(Seq(root))))

    // the probe store: chunk rows built by the distributed ingest path
    val storePath = ctx.abs("probe/store")
    val store = new ChunkStore(spark, storePath)
    val fts = new FtsIndexStore(spark, storePath + "-fts")
    val ann = new AnnIndexStore(spark, storePath + "-ann")
    val ts = java.time.Instant.now().toString
    rec.span("ingest.buildChunks", "ingest") {
      val docs = files.zip(texts).map { case (f, t) => Ingest.Doc(f, t) }.toDS()
      store.insert(Ingest.buildChunks(docs, () => new HashedEmbedder(Main.Dim), ts).toDF())
    }

    // store, write side: one file's mutation as ingestFile performs it;
    // the two index rebuilds also build the indexes the read probes use
    val longDoc = ctx.abs(spec.str("long_doc"))
    val victim = files.head
    val rows = Ingest.chunkAndCaption(Ingest.Doc(victim, texts.head + " appended"),
      Seq.empty, emb, ts).toDF()
    val w0 = procIo("wchar")
    out.put("store.upsert_file_ms", timeMs("store.upsertFile", "store", 1)(
      store.upsertFile(victim, rows)))
    out.put("store.fts_rebuild_ms", timeMs("store.ftsRebuild", "store", 1)(
      fts.rebuild(store.read())))
    out.put("store.ann_rebuild_ms", timeMs("store.annRebuild", "store", 1)(
      ann.rebuild(store.read(), 16)))
    out.put("store.write_bytes_per_user_byte",
      (procIo("wchar") - w0).toDouble / texts.head.length)
    out.put("store.disk_bytes_per_user_byte",
      Seq(storePath, storePath + "-fts", storePath + "-ann").map(du).sum.toDouble / userBytes)

    // store, read side
    val qvecs = queries.map(q => emb.embed(q))
    val nLong = store.listFiles().filter(col("filePath") === longDoc)
      .select("chunkCount").as[Long].head()
    out.put("store.neighbors_ms", timeMs("store.neighbors", "store")(
      store.neighbors(longDoc, (nLong / 2).toInt).collect()))
    out.put("store.fts_load_ms", timeMs("store.ftsLoad", "store")(fts.load()))
    out.put("store.list_files_ms", timeMs("store.listFiles", "store")(
      store.listFiles().collect()))
    out.put("store.ann_probe_ms", timeMs("store.annProbe", "store")(
      ann.probe(qvecs.head, 8, 20).collect()))
    out.put("store.ann_recall_at_20", annRecall(store.read(), ann, queries, 8))

    // search: each hybrid stage on the collected candidate set
    def exact(v: Array[Float]): DataFrame =
      VectorSearch.topK(store.read(), typedLit(v.toSeq), 20, tiebreak = Ids)
    val tokens = "[a-z0-9]+".r.findAllIn(queries.head).toSeq.distinct
    out.put("search.topk_exact_ms", timeMs("search.topK", "search")(
      exact(qvecs.head).collect()))
    val cands = local(exact(qvecs.head).select("filePath", "chunkIndex", "text", "score"))
    val idx = fts.load().get
    out.put("search.bm25_ms", timeMs("search.bm25", "search")(
      Bm25.scoreIndexed(idx, Ids, tokens).collect()))
    val bm25 = local(Bm25.scoreIndexed(idx, Ids, tokens))
    out.put("search.grouping_ms", timeMs("search.grouping", "search")(
      HybridSearch.applyGrouping(cands, "related", tiebreak = Ids).collect()))
    out.put("search.boost_ms", timeMs("search.boost", "search")(
      HybridSearch.applyKeywordBoost(cands, bm25, Ids, HybridSearch.DefaultWeight)
        .collect()))
    val boosted = local(
      HybridSearch.applyKeywordBoost(cands, bm25, Ids, HybridSearch.DefaultWeight))
    out.put("search.file_filter_ms", timeMs("search.fileFilter", "search")(
      HybridSearch.applyFileFilter(boosted, "filePath", 3).collect()))

    // sync: the driver-side planner and its distributed twin
    val disk = files.zip(hashes).map { case (f, h) =>
      SyncPlanner.DiskFile(f, f, Some(h)) }
    val manifest = store.manifest().collect().map(r =>
      SyncPlanner.DbEntry(r.getString(0), r.getString(0), Option(r.getString(1))))
    out.put("sync.plan_ms", timeMs("sync.plan", "sync", 21)(
      SyncPlanner.plan(disk, manifest.toSeq, SyncPlanner.Coverage(Seq.empty),
        SyncPlanner.Request(Seq.empty, Seq.empty))))
    val diskDF = disk.map(d => (d.key, d.path, d.hash.orNull)).toDF("key", "path", "hash")
    val dbDF = manifest.toSeq.map(d => (d.key, d.path, d.hash.orNull))
      .toDF("key", "spelling", "hash")
    out.put("sync.plan_df_ms", timeMs("sync.planActionsDF", "sync")(
      SyncPlanner.planActionsDF(diskDF, dbDF, Seq.empty).collect()))

    // queries: the Registry's dedup pipelines, noop-materialized
    val tables = ctx.abs(spec.str("tables"))
    spec.strs("registry").foreach { name =>
      val q = Registry.byName(name)
      out.put(s"queries.${name}_s", timeMs(s"queries.$name", "queries", 1)(
        q.build(spark, tables).write.format("noop").mode("overwrite").save()) / 1000)
      GraftSession.releaseAllBlocks(spark)
    }
    out
  }

  /** share of the exact top-20 that an IVF probe of `nProbe` lists
    * returns, averaged over `queries` */
  def annRecall(chunks: DataFrame, ann: AnnIndexStore,
                queries: Seq[String], nProbe: Int): Double = {
    val emb = new HashedEmbedder(Main.Dim)
    def key(r: Row) = (r.getAs[String]("filePath"), r.getAs[Int]("chunkIndex"))
    val recall = queries.map { q =>
      val v = emb.embed(q)
      val probe = ann.probe(v, nProbe, 20).collect().map(key).toSet
      VectorSearch.topK(chunks, typedLit(v.toSeq), 20, tiebreak = Ids)
        .collect().map(key).count(probe.contains) / 20.0
    }
    recall.sum / recall.size
  }

  /** a collected copy, so a timed stage does not recompute its input */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def procIo(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def du(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
  }
}
