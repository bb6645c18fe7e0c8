package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.api.Engine
import graft.core.GraftSession
import graft.embed.HashedEmbedder
import perfbench.Json._

/** The benchmark's JVM runner: executes one workload's generated spec as a
  * single closed-loop client (each call waits for the previous reply) and
  * writes every call's wall time and output summary to `result.json`.
  *
  * Usage: perfbench.Main <work dir> <seconds> <trace 0|1>
  *
  * End-to-end calls go only through Engine's public methods and Spark's
  * public API. A traced run also records spans and the
  * layer probes ([[Probes]]).
  */
object Main {
  /** the reference's vector width */
  val Dim = 384

  def main(args: Array[String]): Unit = {
    val work = new File(args(0)).getAbsoluteFile
    val seconds = args(1).toDouble
    val tracing = args(2) == "1"
    val spec = Json.read(new File(work, "spec.json"))
    val t0 = System.currentTimeMillis()
    // Spark gets half the cores: the JVM's JIT compiler and GC threads are
    // busy all through a run this short, and with local[nproc] they and
    // the task threads oversubscribe the cores, so a shared host's noise
    // lands on the calls (sync_write measured 20% slower at local[4] on 4
    // cores)
    val threads = math.max(1, Runtime.getRuntime.availableProcessors() / 2)
    val spark = GraftSession.local(threads)
    val sessionMs = System.currentTimeMillis() - t0
    val rec = new Recorder(spark.sparkContext, tracing)
    val listener = new JobListener
    if (tracing) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val ctx = new Ctx(spark, work, spec, rec, seconds)
    val result = Json.obj()
    try {
      spec.str("workload") match {
        case "serve_read" => serveRead(ctx, result)
        case "sync_write" => syncWrite(ctx, result)
      }
      result.put("retained_heap_mb", retainedHeapMb())
      rec.phase = "probe"
      if (tracing) result.set[ObjectNode]("probes",
        Probes.run(ctx, spec.get("probe")))
    } finally {
      result.put("session_ms", sessionMs)
      result.put("first_call_ms", rec.firstCallMs)
      result.put("jvm_start_ms",
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
      result.put("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
      result.put("spark_threads", threads)
      result.put("rss_hwm_kb", procStatus("VmHWM"))
      result.set[JsonNode]("calls", rec.callsJson)
      if (tracing) {
        listener.drain()
        result.set[JsonNode]("spans", rec.spansJson(listener))
        result.set[JsonNode]("catalyst", listener.catalystJson)
      }
      Json.write(new File(work, "result.json"), result)
      spark.stop()
    }
  }

  final class Ctx(val spark: SparkSession, val work: File, val spec: JsonNode,
                  val rec: Recorder, seconds: Double) {
    def abs(rel: String): String = new File(work, rel).getAbsolutePath
    def rel(p: String): String = {
      val w = work.getAbsolutePath + "/"
      if (p.startsWith(w)) p.substring(w.length) else p
    }
    /** the measured region: the cycles' calls, one after another, until
      * `seconds` have passed and at least one whole cycle has run (or the
      * cycles run out); records the cycles timed, the last one counted by
      * the share of its calls that ran */
    def timedLoop(cycles: Iterator[Seq[() => Unit]], result: ObjectNode): Unit = {
      rec.phase = "timed"
      val deadlineMs = rec.nowMs + seconds * 1000
      var done = 0.0
      var stop = false
      while (!stop && cycles.hasNext) {
        val steps = cycles.next()
        val it = steps.iterator.zipWithIndex
        while (!stop && it.hasNext) {
          val (step, i) = it.next()
          step()
          val whole = done + (i + 1).toDouble / steps.size
          stop = rec.nowMs >= deadlineMs && whole >= 1
          if (stop || i == steps.size - 1) done = whole
        }
      }
      result.put("timed_cycles", done)
    }
    def engine(store: String, roots: Seq[String]): Engine =
      new Engine(spark, abs(store), roots.map(abs), () => new HashedEmbedder(Dim))
  }

  /** heap still in use after the workload, once a full collection has
    * dropped the garbage: what the engine keeps (caches, memos, blocks) */
  def retainedHeapMb(): Double = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    // Spark's ContextCleaner drops broadcast and shuffle state asynchronously
    // once a collection has found it unreachable: collect again until the
    // figure stops moving
    var prev = collect()
    var cur = prev
    var rounds = 0
    do {
      prev = cur
      Thread.sleep(300)
      cur = collect()
      rounds += 1
    } while (prev - cur > 1.0 && rounds < 10)
    cur
  }

  def procStatus(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  /** run the warm rounds; records each one's wall */
  def warm(rounds: Seq[() => Unit], rec: Recorder, result: ObjectNode): Unit = {
    val walls = result.putArray("warm_ms")
    rounds.foreach { round =>
      val t0 = rec.nowMs
      round()
      walls.add(rec.nowMs - t0)
    }
    result.put("warm_iterations", walls.size)
  }

  private def queryOut(rows: Array[Row], o: ObjectNode, ctx: Ctx): Unit = {
    val a = o.putArray("rows")
    rows.foreach { r =>
      a.addArray().add(ctx.rel(r.getAs[String]("filePath")))
        .add(r.getAs[Int]("chunkIndex")).add(r.getAs[Double]("boosted"))
    }
  }

  // ---- serve_read: a warm engine, a seeded read mix ----
  def serveRead(ctx: Ctx, result: ObjectNode): Unit = {
    val spec = ctx.spec
    val engine = ctx.engine("store", spec.strs("roots"))
    val t0 = ctx.rec.nowMs
    engine.sync()
    result.put("store_build_ms", ctx.rec.nowMs - t0)
    val longDoc = ctx.abs(spec.str("long_doc"))
    val nLong = engine.listFiles().collect()
      .find(_.getAs[String]("path") == longDoc)
      .map(_.getAs[Long]("chunk_count")).getOrElse(0L)

    def run(op: JsonNode): Unit = {
      val q = op.opt("q").map(_.asText).orNull
      op.str("kind") match {
        case "query" =>
          ctx.rec.call("query")(engine.queryDocuments(q).collect())(
            (rows, o) => { o.put("limit", 10); queryOut(rows, o, ctx) })
        case "query_filtered" =>
          val scope = op.strs("scope")
          val variant = Seq("grouping", "maxFiles", "scope").find(op.has).get
          ctx.rec.call("query_filtered", variant = variant)(engine.queryDocuments(q,
            scope = scope.map(ctx.abs),
            grouping = op.opt("grouping").map(_.asText),
            maxFiles = op.opt("maxFiles").map(_.asInt)).collect()) { (rows, o) =>
            o.put("limit", 10)
            op.opt("maxFiles").foreach(m => o.put("maxFiles", m.asInt))
            scope.foreach(o.putArray("scope").add(_))
            queryOut(rows, o, ctx)
          }
        case "neighbors" =>
          val target = 2 + (op.dbl("frac") * (nLong - 4)).toInt
          ctx.rec.call("neighbors")(
            engine.readChunkNeighbors(longDoc, target, 2, 2).collect()) { (rows, o) =>
            o.put("target", target).put("n_chunks", nLong)
            val a = o.putArray("rows")
            rows.foreach(r => a.addArray().add(r.getAs[Int]("chunkIndex"))
              .add(r.getAs[Boolean]("isTarget"))
              .add(ctx.rel(r.getAs[String]("filePath"))))
          }
        case "list_files" =>
          ctx.rec.call("list_files")(engine.listFiles().collect()) { (rows, o) =>
            o.put("rows", rows.length)
              .put("ingested", rows.count(_.getAs[Boolean]("ingested")))
              .put("chunks", rows.map(_.getAs[Long]("chunk_count")).sum)
          }
        case "status" =>
          ctx.rec.call("status")(engine.status()) { case ((chunks, files), o) =>
            o.put("chunks", chunks).put("files", files)
          }
      }
    }
    val warmCycles = spec.get("warm_cycles").items.map(c => () => c.items.foreach(run))
    warm(warmCycles, ctx.rec, result)
    ctx.timedLoop(Iterator.continually(spec.get("cycles").items).flatten
      .map(c => c.items.map(op => () => run(op))), result)
    // reported, not gated, in the traced run: how much of the exact top-20
    // the engine's IVF index returns for this workload's queries (the
    // engine's defaults: 16 lists, 8 probed)
    if (ctx.rec.tracing) {
      val queries = spec.get("cycles").get(0).items
        .filter(_.str("kind") == "query").map(_.str("q"))
      result.put("ann_recall_at_20", Probes.annRecall(engine.store.read(),
        new graft.store.AnnIndexStore(ctx.spark, ctx.abs("store") + "-ann"),
        queries, 8))
    }
  }

  // ---- sync_write: one store, a cold sync in set-up, then rounds of writes ----
  def syncWrite(ctx: Ctx, result: ObjectNode): Unit = {
    val spec = ctx.spec
    val corpus = ctx.work.toPath.resolve("corpus")
    val engine = ctx.engine("store", Seq("corpus"))

    def sync(kind: String, expect: JsonNode): Unit =
      ctx.rec.call(kind)(engine.sync()) { (s, o) =>
        o.put("upserted", s.upserted).put("skipped", s.skipped)
          .put("empty", s.empty).put("pruned", s.pruned).put("held", s.held)
        val (_, files) = engine.status()
        o.put("status_files", files)
        o.set[JsonNode]("expect", expect)
      }
    def query(q: String, variant: String)(expect: ObjectNode => Unit): Unit =
      ctx.rec.call("query", variant = variant)(engine.queryDocuments(q).collect()) {
        (rows, o) => o.put("limit", 10); expect(o); queryOut(rows, o, ctx)
      }
    def noChange(files: Int): ObjectNode =
      Json.obj().put("upserted", 0).put("pruned", 0).put("skipped", files)
        .put("files", files)

    // set-up: the process's first sync builds the store (and pays the
    // JVM's one-time costs); one query warms the read path
    val files = spec.int("base_files")
    val t0 = ctx.rec.nowMs
    sync("sync_cold", noChange(files).put("upserted", files).put("skipped", 0))
    result.put("store_build_ms", ctx.rec.nowMs - t0)
    query(spec.str("warm_query"), "warm")(_ => ())
    result.putArray("warm_ms").add(ctx.rec.nowMs - t0)
    result.put("warm_iterations", 1)

    /** one round's calls as steps, on the store the last round left */
    def round(r: JsonNode): Seq[() => Unit] = {
      val batches = Seq("small", "bulk").map { batch => () =>
        val change = r.get(batch)
        change.get("writes").items.foreach { w =>
          val p = corpus.resolve(w.get(0).asText)
          Files.createDirectories(p.getParent)
          Files.write(p, w.get(1).asText.getBytes(StandardCharsets.UTF_8))
        }
        change.strs("deletes").foreach(rel => Files.delete(corpus.resolve(rel)))
        sync(s"sync_$batch", change.get("expect"))
      }
      val mutations = r.get("mutations").items.flatMap { m =>
        val path = corpus.resolve(m.str("rel"))
        val rel = ctx.rel(path.toString)
        if (m.str("kind") == "ingest") Seq(
          () => {
            Files.createDirectories(path.getParent)
            Files.write(path, m.str("text").getBytes(StandardCharsets.UTF_8))
            ctx.rec.call("mutate", variant = "ingest")(
                engine.ingestFile(path.toString)) { (res, o) =>
              o.put("op", "ingest").put("chunks", res.chunkCount)
                .put("path", ctx.rel(res.filePath))
            }
          },
          () => query(m.str("q"), "after_ingest")(_.put("expect_present", rel)))
        else Seq(
          () => {
            // the file leaves the corpus too, so the next round's no-op
            // sync finds nothing to prune
            Files.delete(path)
            ctx.rec.call("mutate", variant = "delete")(
                engine.deleteDocument(path.toString)) { (_, o) => o.put("op", "delete") }
          },
          () => query(m.str("q"), "after_delete")(_.put("expect_absent", rel)))
      }
      (() => sync("sync_noop", noChange(r.int("files")))) +: (batches ++ mutations)
    }
    ctx.timedLoop(spec.get("rounds").items.iterator.map(round), result)
  }
}
