package graft.streaming

import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import graft.core.ChunkSchema.ChunkRow
import graft.core.Seam
import graft.embed.Embedder
import graft.ingest.Ingest
import graft.ops.{Dedup, Sketches}

/** Structured Streaming surfaces. The reference has no stream processing
  * (SURVEY §2.10) — its only async is a driver-side sync job — but a
  * continuously-arriving corpus is the natural 100 TB deployment shape, so
  * the ingestion dataflow is exposed as an incremental streaming job
  * (readStream → same per-document chunk+embed stages → writeStream), plus
  * the standard event-time operators a training-data pipeline needs.
  *
  * The batch and streaming paths share `Ingest`'s per-document logic — one
  * code path, two triggers (the `Trigger.AvailableNow` reconciliation
  * pattern SURVEY §2.10 calls the optional stretch).
  *
  * Every oracle-matched run replays a batch frame as an ordered file stream
  * through one [[Stage]]: the frame is written as single-file slices with
  * ascending mtimes, read back one slice per micro-batch, drained
  * AvailableNow into a memory sink ([[Stage.sink]]) or a foreachBatch step
  * ([[Stage.drain]]), and the stage directory is deleted on return and on
  * failure. Each run returns its result and its [[StreamRunStats]].
  */
object StreamingIngest {

  /** streaming docs(filePath, content) → streaming chunk rows; identical
    * semantics to Ingest.buildChunks (mapPartitions is stateless per batch) */
  def chunkStream(docs: Dataset[Ingest.Doc], mkEmbedder: () => Embedder,
                  timestamp: String): Dataset[ChunkRow] =
    Ingest.buildChunks(docs, mkEmbedder, timestamp) // one code path, two triggers

  /** Streaming WARC ingestion: a `binaryFile` readStream over a drop
    * directory of .warc(.gz) containers, each micro-batch exploding its
    * files' HTTP response pages through the SAME WarcSource → HtmlParser →
    * chunk/embed stages as the batch path (per-page documents keyed by
    * target URI), run AvailableNow to a memory sink. This is the
    * continuous-crawl deployment shape: Common Crawl segments land in a
    * bucket, and the pipeline indexes them incrementally — each file is
    * read once, all parsing is map-side inside the batch. */
  def warcIngestAvailableNow(spark: SparkSession,
                             dir: String, mkEmbedder: () => Embedder,
                             timestamp: String): DataFrame = {
    import spark.implicits._
    val pages = spark.readStream.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .schema(StructType(Seq(StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType), StructField("content", BinaryType))))
      .load(dir)
      .select(col("content"))
      .as[Array[Byte]]
      .flatMap(bytes => graft.ingest.WarcSource.htmlDocs(bytes).map {
        case (uri, md) => Ingest.Doc(uri, md, None, None)
      })
    // nothing to slice: the stage only holds the query's checkpoint
    staged(spark, "warc")(
      _.sink(chunkStream(pages, mkEmbedder, timestamp).toDF(), OutputMode.Append()))._1
  }

  /** event-time windowed counts with a watermark — late data beyond the
    * watermark is dropped, state is bounded */
  def windowedCounts(events: DataFrame, watermark: String = "30 minutes",
                     window: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("event_type"), col("cnt"))

  /** Streaming exact dedup: drop re-arrivals of a content fingerprint.
    * `dropDuplicatesWithinWatermark` keys state on the fingerprint column
    * and EXPIRES entries once the watermark passes them — state is bounded
    * by (dedup window × arrival rate), never corpus size, which is the only
    * viable posture for an unbounded 100 TB document stream. The batch twin
    * is the exact-dedup groupBy (`d_exact_dup`); within one watermark window
    * the two agree. Docs must carry an event-time column `ts` and a
    * `fingerprint` column (e.g. [[graft.ops.TextAnalysis.fingerprint]]). */
  def dedupStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Per-run stats of a streaming query: micro-batches that processed input
    * and the PEAK buffered state-store rows across the run. The spec gates
    * on both — batches > 1 proves state crossed batch boundaries, peak <
    * input rows proves the watermark actually evicted instead of buffering
    * the whole corpus. */
  final case class StreamRunStats(batches: Long, maxStateRows: Long,
                                  maxBatchWallSec: Double = 0.0)

  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** One AvailableNow run's scratch directory: the staged slices under
    * `src/`, the query's checkpoint, and whatever state the run keeps
    * beside them. Created and deleted only by [[staged]]. */
  private final class Stage(spark: SparkSession, name: String, val dir: Path)
      extends AutoCloseable {
    private val src = dir.resolve("src")
    private var slicesWritten = 0
    private var schema: StructType = _ // of the first slice; every slice shares it

    /** Write `frame` as `numFiles` slices over equal ranges of the Long
      * `key` — equal key spans, not equal row counts: one min/max agg
      * instead of a global sort, and each slice is a plain filtered scan
      * (skewed slice sizes are fine — ordering is what matters). Rows with
      * a null key are not staged; with none left every slice is empty.
      * Returns the key's (min, max), (0, 0) when there is none. */
    def slices(frame: DataFrame, key: Column, numFiles: Int): (Long, Long) = {
      val r = frame.agg(min(key), max(key)).head()
      val (lo, hi) = if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
      val n = math.max(1, numFiles)
      val span = math.max(1L, (hi - lo) / n + 1)
      (0 until n).foreach(i =>
        slice(frame.filter(key >= lo + i * span && key < lo + (i + 1) * span)))
      (lo, hi)
    }

    /** Write `frame` as the next slice: one parquet file whose mtime is
      * pinned after every earlier slice's, so FileStreamSource's
      * mtime-ordered discovery replays the slices in write order. */
    def slice(frame: DataFrame): Unit = {
      val tmp = dir.resolve(s"write_$slicesWritten")
      frame.coalesce(1).write.parquet(tmp.toString)
      // the stream is closed: an open one leaks a directory handle per slice
      val part = Using.resource(Files.newDirectoryStream(tmp, "*.parquet"))(
        _.iterator().next())
      val dest = Files.createDirectories(src).resolve(f"slice_$slicesWritten%04d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        FileTime.fromMillis(1_000_000_000_000L + slicesWritten * 60_000L))
      if (schema == null) schema = frame.schema
      slicesWritten += 1
    }

    /** The staged slices as a stream, one slice per micro-batch. */
    def open(): DataFrame =
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString)

    /** Start `writer` AvailableNow with its checkpoint inside the stage and
      * wait until the backlog drains; a failed run rethrows. */
    private def availableNow[T](writer: DataStreamWriter[T]): StreamingQuery = {
      val q = writer.option("checkpointLocation", dir.resolve("checkpoint").toString)
        .trigger(Trigger.AvailableNow()).start()
      try { q.awaitTermination(); q } finally q.stop()
    }

    /** Drain `df` into a memory sink and return the sink's rows,
      * materialized driver-side, with the run's stats. The sink's view is
      * dropped on return — the sink holds the full result per run, and
      * repeated calls in a long-lived session would otherwise accumulate one
      * table per call. */
    def sink(df: DataFrame, mode: OutputMode): (DataFrame, StreamRunStats) = {
      val view = s"graft_stream_${name}_${sinkCounter.incrementAndGet()}"
      try {
        val progress = availableNow(
          df.writeStream.format("memory").queryName(view).outputMode(mode)).recentProgress
        val out = spark.table(view)
        (spark.createDataFrame(out.collect().toSeq.asJava, out.schema),
          StreamRunStats(
            batches = progress.count(_.numInputRows > 0),
            maxStateRows = progress.flatMap(_.stateOperators.map(_.numRowsTotal))
              .foldLeft(0L)(math.max)))
      } finally spark.catalog.dropTempView(view): Unit
    }

    /** foreachBatch drain for runs that keep their own state beside the
      * stream. Each non-empty batch is cached for
      * `step(batch, lookup, batchId)`, where `lookup` is the batch plus
      * every earlier batch (the accumulated doc store, read with the batch's
      * schema), then joins the doc store. Returns batches with rows and the
      * slowest batch's wall; `maxStateRows` is the caller's to fill.
      *
      * foreachBatch is AT-LEAST-ONCE: a crash between sink work and
      * checkpoint advance replays the micro-batch with the same batchId.
      * Callers' appends are not naturally idempotent, so each fully
      * processed batchId leaves a marker and replays are skipped; the doc
      * store (and any per-batch output a step writes) goes to per-batch
      * `batch=<id>` subdirectories in Overwrite mode, so even a replay of a
      * PARTIALLY processed batch cannot duplicate it. */
    def drain(step: (DataFrame, DataFrame, Long) => Unit): StreamRunStats = {
      val markers = Files.createDirectories(dir.resolve("processed"))
      val docs = dir.resolve("docs")
      var batches = 0L
      // per-batch wall clock on the record: the scale claim for these runs
      // is "cost follows the batch", and the stress run reads these lines
      var maxWall = 0.0
      availableNow(open().writeStream.foreachBatch { (batchDF: DataFrame, batchId: Long) =>
        val marker = markers.resolve(f"batch-$batchId%08d")
        val batch = batchDF.persist()
        val t0 = System.nanoTime()
        try {
          // ONE count: materializes the cached batch and gates the empty case
          val nRows = if (Files.exists(marker)) 0L else batch.count()
          if (nRows > 0) {
            val lookup = // the select drops the store's `batch` partition column
              if (Files.exists(docs))
                batch.unionByName(spark.read.schema(batch.schema).parquet(docs.toString)
                  .select(batch.columns.map(col).toIndexedSeq: _*))
              else batch
            step(batch, lookup, batchId)
            batch.write.mode("overwrite").parquet(s"$docs/batch=$batchId")
            Files.createFile(marker)
            batches += 1
            val wall = (System.nanoTime() - t0) / 1e9
            maxWall = math.max(maxWall, wall)
            System.err.println(f"[stream-$name] batch=$batchId rows=$nRows wall=$wall%.2fs")
          }
        } finally batch.unpersist(): Unit
      })
      StreamRunStats(batches, maxStateRows = 0L, maxBatchWallSec = maxWall)
    }

    def close(): Unit = deleteTree(dir)
  }

  /** Run `body` in a fresh [[Stage]]; the stage directory is deleted when
    * `body` returns and when it throws. */
  private def staged[T](spark: SparkSession, name: String)(body: Stage => T): T =
    Using.resource(new Stage(spark, name,
      Files.createTempDirectory(s"graft_stream_$name")))(body)

  /** recursive delete; the Files.walk stream is CLOSED (one open directory
    * handle per level otherwise — the ADVICE r12 / VERDICT r13 leak class) */
  private def deleteTree(dir: Path): Unit =
    Using.resource(Files.walk(dir))(
      _.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p)))

  private def hourOf(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm")

  /** the watermarked (hour, event_type) rollup both rollup runs stream */
  private def rollup(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(30, 8))).cast("double").as("sum_value"))
      .select(col("window.start").as("h"), col("event_type"), col("cnt"), col("sum_value"))

  /** the watermarked hourly event volume both anomaly runs stream */
  private def hourlyCounts(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("h"), col("cnt"))

  /** Run the watermarked hourly rollup as a real Structured Streaming job
    * over the events (AvailableNow trigger → terminates when the backlog
    * drains) and return the final result table. Complete output mode makes
    * the result deterministic and equal to the batch aggregation — which is
    * exactly what the DuckDB oracle checks. The events are staged as one
    * slice, drained in one micro-batch. The production twin runs the same
    * plan with a micro-batch trigger and append mode. */
  def hourlyRollupAvailableNow(spark: SparkSession,
                               events: DataFrame): (DataFrame, StreamRunStats) =
    staged(spark, "rollup") { stage =>
      stage.slices(events.select("ts", "event_type", "value"), unix_micros(col("ts")), 1)
      val (snapshot, stats) = stage.sink(rollup(stage.open()), OutputMode.Complete())
      (snapshot.select(hourOf(col("h")).as("hour"), col("event_type"), col("cnt"),
        col("sum_value")), stats)
    }

  /** Streaming feed → batch monitor: hourly TOTAL event volume maintained
    * as a Complete-mode windowed aggregate over the staged stream, then
    * the trailing-24-bucket z-score (the e_hourly_anomaly tail) applied to
    * the drained snapshot — the deployment shape where ingestion runs
    * continuously and the anomaly sweep runs on each snapshot. The
    * windowed agg is the only streaming state (one row per hour); the
    * z-score window needs completed history and stays batch-side. */
  def hourlyAnomalyAvailableNow(spark: SparkSession,
                                events: DataFrame): (DataFrame, StreamRunStats) =
    staged(spark, "anomaly") { stage =>
      stage.slices(events.select("ts"), unix_micros(col("ts")), 1)
      val (snapshot, stats) = stage.sink(hourlyCounts(stage.open()), OutputMode.Complete())
      (anomalyZScoreTail(snapshot), stats)
    }

  /** trailing-24-bucket z-score over an (h, cnt) hourly snapshot — the
    * shared batch-side tail of both anomaly variants */
  private def anomalyZScoreTail(snapshot: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("h").rowsBetween(-24, -1)
    snapshot
      .withColumn("n_win", count(lit(1)).over(w))
      .withColumn("mean", avg(col("cnt")).over(w))
      .withColumn("sd", stddev_samp(col("cnt")).over(w))
      .filter(col("n_win") === 24 && col("sd") > 0)
      .select(hourOf(col("h")).as("hour"),
        col("cnt"),
        (round(col("mean"), 4) + 0.0).as("mean24"),
        (round((col("cnt") - col("mean")) / col("sd"), 4) + 0.0).as("z"))
      .orderBy("hour")
  }

  /** UPDATE-mode deployment shape of [[hourlyAnomalyAvailableNow]]: the
    * same hourly aggregate, but the 30-minute watermark now actually
    * EVICTS window state once the event-time frontier passes it, so
    * streaming state is bounded by the watermark horizon (a few windows),
    * not by the feed's lifetime (every distinct hour — what Complete mode
    * retains and re-emits forever). Events are staged as `numFiles`
    * event-time slices drained one per micro-batch, so the watermark
    * advances mid-run and eviction is observable:
    * [[StreamRunStats.maxStateRows]] records the per-batch state
    * high-water mark. Slice boundaries are strict time splits, so no event
    * ever arrives behind the watermark — the Update-mode result equals the
    * Complete twin row-for-row (the registry oracle hash-checks this
    * against batch SQL).
    *
    * The memory sink receives each window's per-batch updates; the final
    * count per window is the LAST update — counts are monotone within a
    * window, so max-per-window reassembles it without ordering metadata.
    * The z-score tail is shared with the Complete twin. */
  def hourlyAnomalyUpdateMode(spark: SparkSession, events: DataFrame,
                              numFiles: Int = 12): (DataFrame, StreamRunStats) =
    staged(spark, "anomaly_upd") { stage =>
      // only the event-time column feeds the aggregate: stage just it
      stage.slices(events.select("ts"), unix_micros(col("ts")), numFiles)
      val (updates, stats) = stage.sink(hourlyCounts(stage.open()), OutputMode.Update())
      (anomalyZScoreTail(updates.groupBy("h").agg(max("cnt").as("cnt"))), stats)
    }

  /** UPDATE-mode deployment shape of [[hourlyRollupAvailableNow]] — the
    * (window, event_type) rollup with the watermark actually EVICTING
    * window state once the event-time frontier passes it, completing the
    * Update-mode family next to [[hourlyAnomalyUpdateMode]].
    * State is bounded by the watermark horizon × event-type arity, not
    * the feed lifetime (what Complete mode retains and re-emits forever).
    * Events drain as strict event-time slices (one per micro-batch), so
    * nothing arrives behind the watermark and the Update result equals
    * the batch truth row-for-row — the registry oracle hash-checks it
    * against the SAME batch SQL as the Complete twin.
    *
    * Reassembly: the sink holds each key's per-batch updates; a key's
    * final row is its LAST update, identified WITHOUT ordering metadata
    * because cnt strictly increases across a window's updates (each
    * update exists only when new rows arrived) — max(cnt) picks it and
    * max_by(sum_value, cnt) carries the matching sum. */
  def hourlyRollupUpdateMode(spark: SparkSession, events: DataFrame,
                             numFiles: Int = 12): (DataFrame, StreamRunStats) =
    staged(spark, "rollup_upd") { stage =>
      stage.slices(events.select("ts", "event_type", "value"), unix_micros(col("ts")),
        numFiles)
      val (updates, stats) = stage.sink(rollup(stage.open()), OutputMode.Update())
      val last = updates.groupBy("h", "event_type")
        .agg(max("cnt").as("cnt"), expr("max_by(sum_value, cnt)").as("sum_value"))
      (last.select(hourOf(col("h")).as("hour"), col("event_type"), col("cnt"),
        col("sum_value")), stats)
    }

  /** Streaming HLL cardinality: the 2^b-row register table maintained as a
    * streaming groupBy-max (Complete mode) over file-staged micro-batches
    * (doc-id slices). This is the sketch's whole point at stream scale — a
    * running distinct-count over an unbounded arrival stream with STATE
    * BOUNDED at 2^b rows, where exact streaming distinct would grow state
    * with the key universe. max() is commutative/idempotent, so the final
    * streaming state equals the batch sketch EXACTLY regardless of file
    * arrival order — which lets the batch oracle hash-check the streaming
    * run. */
  def hllAvailableNow(spark: SparkSession, corpus: DataFrame, b: Int = 6,
                      numFiles: Int = 4): (DataFrame, StreamRunStats) =
    staged(spark, "hll") { stage =>
      stage.slices(corpus.select("doc_id", "text"), col("doc_id"), numFiles)
      val regs = Sketches.hllRho(stage.open(), col("text"), b)
        .groupBy("register").agg(max("rho").as("max_rho"))
      val (snapshot, stats) = stage.sink(regs, OutputMode.Complete())
      (Sketches.hllEstimate(snapshot, b), stats)
    }

  /** Streaming Count-Min: the depth×width counter grid maintained as a
    * streaming groupBy-SUM (Complete mode) — the frequency twin of
    * [[hllAvailableNow]], state bounded at depth·width rows for an
    * unbounded stream. Sum is commutative/associative, so the final
    * snapshot equals the batch sketch exactly regardless of arrival
    * order; point estimates read the snapshot with the same batch
    * lookup. */
  def cmsAvailableNow(spark: SparkSession, corpus: DataFrame, depth: Int = 4,
                      width: Int = 256, numFiles: Int = 4): (DataFrame, StreamRunStats) =
    staged(spark, "cms") { stage =>
      stage.slices(corpus.select("doc_id", "text"), col("doc_id"), numFiles)
      // the batch builder's projection+aggregate IS valid streaming SQL —
      // one code path for both triggers (the chunkStream discipline)
      val words = stage.open().select(explode(Dedup.wordsArray("text")).as("w"))
      stage.sink(Sketches.cmsSketch(words, col("w"), depth, width), OutputMode.Complete())
    }

  final case class SessionState(count: Long, lastTs: Long)
  final case class SessionUpdate(userId: Long, events: Long, closed: Boolean)

  /** custom stateful sessionization via mapGroupsWithState: per-user running
    * session state across micro-batches. Pedagogical NoTimeout variant —
    * state grows with the user population forever; the production path is
    * [[sessionizeWithTimeout]], which bounds state via event-time timeouts. */
  def sessionize(events: Dataset[(Long, Long)]): Dataset[SessionUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionUpdate](GroupStateTimeout.NoTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, 0L))
          val incoming = rows.toSeq
          val st = SessionState(prev.count + incoming.size,
            math.max(prev.lastTs, if (incoming.isEmpty) 0L else incoming.map(_._2).max))
          state.update(st)
          SessionUpdate(userId, st.count, closed = false)
      }
  }

  /** startUs/lastUs are epoch MICROS: the gap comparison must run at the
    * event-time resolution of the source (parquet timestamps are µs), or a
    * gap within 1 ms of the boundary lands on the wrong side of it. */
  final case class SessionWindowState(count: Long, startUs: Long, lastUs: Long)
  final case class ClosedSession(userId: Long, events: Long,
                                 startTs: Long, endTs: Long)

  private def epochMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Event-time sessionization with BOUNDED state — the production variant:
    * a per-user session accumulates while events arrive; a session CLOSES
    * either (a) in-handler, when a later event for the same user arrives
    * ≥ gap after the session's last event — required for correctness, since
    * a gap shorter than the watermark delay + gap arrives BEFORE the
    * timeout can fire and would otherwise merge two distinct sessions — or
    * (b) by event-time TIMEOUT once the watermark passes `lastTs + gap`,
    * which removes the state row. State size is one row per currently-
    * active user — it never grows with history, which is the difference
    * between surviving a 100 TB replay and OOMing the state store.
    * Timestamps are epoch millis in the emitted session (formatting is
    * per-second downstream; the µs-sensitive comparison is internal). */
  def sessionizeWithTimeout(events: Dataset[(Long, java.sql.Timestamp)],
                            gapMs: Long = 30L * 60 * 1000,
                            watermark: String = "30 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMs * 1000L
    events.toDF("user_id", "ts")
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionWindowState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionWindowState]) =>
          def close(s: SessionWindowState) =
            ClosedSession(userId, s.count, s.startUs / 1000L, s.lastUs / 1000L)
          if (state.hasTimedOut) {
            val st = state.get
            state.remove() // the bound: idle users leave the state store
            Iterator.single(close(st))
          } else {
            // event-time order within the batch; arrival across batches is
            // assumed watermark-correct (later batches only bring rows the
            // watermark still admits)
            val incoming = rows.map(r => epochMicros(r._2)).toArray.sorted
            val closed = Seq.newBuilder[ClosedSession]
            var cur = state.getOption
            incoming.foreach { u =>
              cur match {
                case Some(s) if u - s.lastUs >= gapUs =>
                  closed += close(s) // gap reached: the previous session is final
                  cur = Some(SessionWindowState(1L, u, u))
                case Some(s) =>
                  cur = Some(SessionWindowState(s.count + 1L,
                    math.min(s.startUs, u), math.max(s.lastUs, u)))
                case None => cur = Some(SessionWindowState(1L, u, u))
              }
            }
            val st = cur.get
            state.update(st)
            // a timeout must sit beyond the current watermark: an event that
            // arrived just inside the allowed lateness could otherwise ask
            // for a timestamp the watermark already passed; µs→ms rounds UP
            // so the timeout never fires a hair before the gap elapses
            state.setTimeoutTimestamp(
              math.max((st.lastUs + 999L) / 1000L + gapMs,
                state.getCurrentWatermarkMs() + 1))
            closed.result().iterator
          }
      }
  }

  /** Oracle-matched AvailableNow run of [[sessionizeWithTimeout]] over a
    * batch events table, driven as a REAL multi-batch stream: events are
    * staged as `numFiles` event-time slices read one per trigger, so
    * per-user session state lives ACROSS micro-batches and the watermark
    * both admits in-order arrivals and times out idle sessions batch-by-
    * batch. Two SENTINEL slices (user_id = −1, event time past every real
    * session's `lastTs + gap + delay`) are staged after them: the first
    * advances the watermark past every real timeout, the second triggers a
    * batch in which those timeouts FIRE — so the run emits every session
    * the batch gaps-and-islands query derives, without relying on trailing
    * no-data micro-batches. Sentinel rows are filtered out of the result;
    * emission is complete-and-exact vs the batch oracle because arrival is
    * event-time-ordered (order is load-bearing, as in the attribution
    * run). */
  def sessionizeAvailableNow(spark: SparkSession, events: DataFrame,
                             gapMs: Long = 30L * 60 * 1000,
                             watermarkDelayMs: Long = 30L * 60 * 1000,
                             numFiles: Int = 6): (DataFrame, StreamRunStats) =
    staged(spark, "sess") { stage =>
      val (_, hiUs) = stage.slices(events.select("user_id", "ts"), unix_micros(col("ts")),
        numFiles)
      (1 to 2).foreach { i =>
        val sentinelUs = hiUs + (gapMs + watermarkDelayMs) * 1000L + i * 60_000_000L
        stage.slice(spark.range(1).select(lit(-1L).as("user_id"),
          timestamp_micros(lit(sentinelUs)).as("ts")))
      }
      import spark.implicits._
      val sessions = sessionizeWithTimeout(
          stage.open().select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)],
          gapMs, s"$watermarkDelayMs milliseconds")
        .filter(_.userId >= 0L) // drop the watermark-advancing sentinels
      stage.sink(sessions.toDF(), OutputMode.Append())
    }

  /** Watermarked stream-stream inner join — the streaming twin of the batch
    * as-of/attribution join (`ops/TimeJoins`): each `click` joins follow-up
    * `action` events for the same user within `[click.ts, click.ts +
    * windowMs]`. Both sides carry watermarks and the join predicate is
    * range-BOUNDED in event time, which is what lets Spark expire buffered
    * state: a side's rows are dropped once the other side's watermark
    * passes the bound, so state holds only the active window instead of
    * the whole history — the difference between a stream join that runs
    * forever and one that OOMs its state store. Returns (user_id,
    * click_ts, action_ts, action_type) appendable per micro-batch. */
  def clickAttributionJoin(clicks: DataFrame, actions: DataFrame,
                           windowMs: Long = 10L * 60 * 1000,
                           watermark: String = "10 minutes"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val a = actions.select(col("user_id").as("a_user"), col("ts").as("action_ts"),
        col("event_type").as("action_type"))
      .withWatermark("action_ts", watermark)
    c.join(a,
      col("c_user") === col("a_user") &&
        col("action_ts") >= col("click_ts") &&
        col("action_ts") <= col("click_ts") + expr(s"INTERVAL $windowMs MILLISECOND"))
      .select(col("c_user").as("user_id"), col("click_ts"),
        col("action_ts"), col("action_type"))
  }

  /** JVM-lifetime temp dirs (returned-result parquet that must outlive the
    * producing call): ONE shutdown hook, a shared queue of dirs — repeated
    * invocations must not each register their own hook */
  private val jvmLifetimeDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val jvmLifetimeHook: Unit = {
    sys.addShutdownHook {
      jvmLifetimeDirs.iterator().asScala.foreach(d => Try(deleteTree(d)))
    }
    ()
  }

  private def registerJvmLifetimeDir(dir: Path): Unit = {
    jvmLifetimeHook
    jvmLifetimeDirs.add(dir): Unit
  }

  /** Live result dir per QUERY NAME — the bound on the JVM-lifetime
    * accumulation above: repeated invocations of the same query re-claim
    * their name, deleting the predecessor's dir instead of letting disk
    * grow linearly with call count × result volume in a long-lived engine
    * session. Lifecycle contract this encodes: a returned result handle is
    * valid until the SAME query runs again (the harness and any sane
    * caller consume a result before re-running its producer); all live
    * dirs are still swept by the shutdown hook. */
  private val namedResultDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Path]()
  private def claimResultDir(name: String): Path = {
    val fresh = Files.createTempDirectory(s"graft_${name}_out")
    registerJvmLifetimeDir(fresh)
    // claim-then-delete runs inside compute(), so it is atomic PER NAME:
    // two concurrent claims of the same name serialize on the map bin and
    // each deletes exactly one predecessor (the ADVICE r12 race was two
    // puts both observing the same prev and one deleting a dir the other's
    // returned handle still lazily read). The lifecycle contract is
    // unchanged and stays documented above: a returned result handle is
    // valid only until the SAME query is re-run — claiming serially here
    // makes the rotation safe, it does not make concurrent re-runs of one
    // query a supported pattern (the later claim still deletes the dir the
    // earlier, still-running invocation will write).
    namedResultDirs.compute(name, (_, prev) => {
      if (prev != null) {
        jvmLifetimeDirs.remove(prev): Unit
        Try(deleteTree(prev)): Unit // best effort: a stuck predecessor must not fail this run
      }
      fresh
    })
    fresh
  }

  /** test-visible probe: the live result dir claimed under `name`, if any */
  private[graft] def currentResultDir(name: String): Option[Path] =
    Option(namedResultDirs.get(name))

  /** Oracle-matched AvailableNow run of [[clickAttributionJoin]] over a
    * batch events table, driven as a REAL multi-batch stream: events are
    * staged as `numFiles` event-time slices (equal time spans, strictly
    * increasing mtimes) read one per trigger, so the join's buffered state
    * lives ACROSS micro-batches and the watermark evicts it batch-by-batch
    * as event time advances — the semantics a stream-stream join exists to
    * provide, exercised for real.
    *
    * Emission stays complete (= the batch join exactly) because arrival is
    * event-time-ordered across files: a click buffered at time T is only
    * evicted once the watermark passes T + windowMs, and by then every
    * action with action_ts ≤ T + windowMs has already arrived (the
    * watermark trails the max arrived ts by the full window). Out-of-order
    * staging would forfeit this guarantee — order is load-bearing here.
    * Returns (user_id, click_ts, action_ts, action_type). */
  def attributionAvailableNow(spark: SparkSession, events: DataFrame,
                              windowMs: Long = 10L * 60 * 1000,
                              numFiles: Int = 4): (DataFrame, StreamRunStats) =
    staged(spark, "attrib") { stage =>
      stage.slices(events.select("user_id", "ts", "event_type"), unix_micros(col("ts")),
        numFiles)
      val raw = stage.open()
      stage.sink(clickAttributionJoin(raw.filter(col("event_type") === "click"),
        raw.filter(col("event_type") =!= "click"), windowMs), OutputMode.Append())
    }

  /** Streaming exact dedup run AvailableNow over a batch corpus, driven as
    * a REAL multi-batch stream: docs are staged as `numFiles` doc-id slices
    * (ts = base + doc_id seconds — synthetic but strictly increasing and
    * unique, so doc-id order IS arrival order) and read one slice per
    * trigger, so the fingerprint state built in batch k drops re-arrivals
    * in batch k+n. This is the streaming twin of the exact-dedup groupBy
    * (`ops/Dedup.exactDupGroups`): on an unbounded corpus a lifetime dedup
    * set is impossible, and `dropDuplicatesWithinWatermark` keys state on
    * the fingerprint and EXPIRES entries once the watermark passes them —
    * state follows the window, never the corpus. Here the delay exceeds
    * the staged corpus's synthetic time span, so the run equals global
    * first-wins dedup — which is what the DuckDB oracle hash-checks; the
    * expiry semantics (bounded state, expired keys re-admitted) are
    * spec-gated in StreamingSpec.
    *
    * The output keeps only fingerprint-DETERMINED columns: the fp itself
    * and the length of the NORMALIZED text (the exact string the
    * fingerprint hashes — lowercased, whitespace-collapsed, trimmed).
    * Which of two same-fp rows reaches the state store first within one
    * micro-batch is partition-order dependent, so emitting any
    * arrival-specific column (doc_id, ts, RAW length — two texts with the
    * same fp can differ in raw length by whitespace/case) would be
    * nondeterministic; only columns the fp functionally determines are
    * safe. */
  def exactDedupAvailableNow(spark: SparkSession, corpus: DataFrame, numFiles: Int = 4,
                             watermarkDelay: String = "90 days"): (DataFrame, StreamRunStats) =
    staged(spark, "dedup") { stage =>
      // synthetic event time: 2025-01-01 + doc_id seconds (unique per row)
      stage.slices(corpus.select(col("doc_id"), col("text"),
        timestamp_seconds(lit(1735689600L) + col("doc_id")).as("ts")), col("doc_id"), numFiles)
      val deduped = stage.open()
        .withColumn("fingerprint", graft.ops.TextAnalysis.fingerprint(col("text")))
        .withWatermark("ts", watermarkDelay)
        .dropDuplicatesWithinWatermark("fingerprint")
        .select(col("fingerprint").as("fp"),
          length(trim(regexp_replace(lower(col("text")), "\\s+", " "))).cast("long")
            .as("text_len"))
      stage.sink(deduped, OutputMode.Append())
    }

  /** Streaming INCREMENTAL near-dup dedup — the continuous-ingest shape of
    * `d_delta_dedup`: each micro-batch (one staged doc-id slice per
    * trigger) runs inside the [[Stage.drain]] as
    *
    *   1. candidates of the batch against everything indexed SO FAR
    *      ([[graft.store.MinhashIndexStore.deltaCandidates]]: broadcast the
    *      batch's bands onto the stored band table) plus in-batch banding;
    *   2. exact Jaccard verify, shingling ONLY candidate-touched docs
    *      (point-lookups into the accumulated doc store, never a rescan);
    *   3. append the verified pairs to the output and the batch's
    *      signatures to the index
    *      ([[graft.store.MinhashIndexStore.appendBatch]]).
    *
    * Per-batch cost follows |batch| + |candidates| — the 100 TB posture: a
    * corpus streaming in forever is deduped as it arrives, and the index is
    * the only state that persists. Every unordered near-dup pair surfaces
    * exactly once, in the batch where its LATER member arrives — so the
    * union over batches equals the full-corpus banded LSH pairs at the same
    * threshold, which is what the e2e oracle (d_stream_delta_dedup)
    * hash-checks. Returns (id_a, id_b, jaccard) as a lazy scan of a
    * per-name claimed result dir (never a driver collect: at the 100×
    * adversarial regime the pairs are O(group²)); `maxStateRows` is the
    * index's row count. The one at-least-once window the drain's markers
    * leave open is appendBatch on a mid-batch crash — production closes it
    * by keying index segments on batchId the same way. */
  def incrementalDedupAvailableNow(spark: SparkSession, corpus: DataFrame,
                                   threshold: Double = 0.5,
                                   numFiles: Int = 4): (DataFrame, StreamRunStats) =
    staged(spark, "delta") { stage =>
      stage.slices(corpus.select("doc_id", "text"), col("doc_id"), numFiles)
      val index = new graft.store.MinhashIndexStore(spark,
        stage.dir.resolve("mh-index").toString, nHashes = 16, bands = 4, rowsPerBand = 4)
      val pairsDir = stage.dir.resolve("pairs")
      val stats = stage.drain { (batch, lookup, batchId) =>
        // every block of the batch's verify (the candidate checkpoint, its
        // cache, the routed joins' id set and pair list) belongs to one
        // seam, closed after the pair write — else blocks leak per batch
        // for the stream's lifetime
        Seam.scoped { seam =>
          val cands = seam.persist(
            if (index.exists) index.deltaCandidates(seam, batch)
            else // first batch: no stored side yet, in-batch pairs only
              Dedup.lshCandidatePairs(
                Dedup.lshBands(index.signatures(batch), "doc_id", "sig", 4, 4), "doc_id"))
          if (cands.take(1).nonEmpty) {
            val candIds = cands.select(col("id_a").as("doc_id"))
              .union(cands.select(col("id_b").as("doc_id"))).distinct()
            // count-and-route like the batch twin: broadcast only a
            // measured-bounded id set, shuffle-semi otherwise
            val needed = Dedup.routedSemiJoin(seam, lookup, candIds, "doc_id")
              .withColumn("ws", Dedup.wordsArray("text"))
              .withColumn("shs", Dedup.wordShingles("ws", 5))
            Dedup.jaccardOnPairs(seam, cands, needed, "doc_id", "shs")
              .filter(col("jaccard") >= threshold)
              .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
          }
        }
        index.appendBatch(batch): Unit
      }
      val pairSchema = StructType(Seq(
        StructField("id_a", LongType, nullable = false),
        StructField("id_b", LongType, nullable = false),
        StructField("jaccard", DoubleType, nullable = true)))
      val out =
        if (Files.exists(pairsDir)) {
          // moved out of the stage (deleted on return) into a result dir
          // that lives until this query runs again
          val keep = claimResultDir("stream_delta").resolve("pairs")
          Files.move(pairsDir, keep, StandardCopyOption.ATOMIC_MOVE)
          spark.read.schema(pairSchema).parquet(keep.toString)
            .select(col("id_a"), col("id_b"), col("jaccard")) // drops `batch`
        } else spark.createDataFrame(java.util.Collections.emptyList[Row](), pairSchema)
      (out, stats.copy(maxStateRows = index.rowCount()))
    }

  /** Streaming twin of the INCREMENTAL CLEANING FUNNEL — the
    * d_stream_delta_dedup pattern lifted to the whole quality → exact →
    * near-dup → decontamination pipeline: the corpus replays as ascending
    * doc_id slices, one per trigger — the id ordering is what makes
    * first-wins monotone across micro-batches — and each batch of the
    * [[Stage.drain]] is cleaned against the persisted
    * [[graft.store.CleanStateStore]] via `applyBatch` and folded in via
    * `absorb`, including the revocation edge (a later batch's holdout docs
    * can retract earlier survivors). State bootstraps from an EMPTY
    * rebuild, so batch 0 runs the same delta protocol as every other batch
    * (spec-pinned: the first batch against empty state IS the batch
    * funnel).
    *
    * The final survivor set equals the batch funnel on the whole corpus —
    * the e_stream_pipeline oracle hash-checks exactly that (same
    * CleaningCtes as d_corpus_pipeline/d_delta_pipeline). Survivors are
    * written to a per-name claimed result dir and returned as a lazy scan
    * (never a driver collect). */
  def cleanPipelineAvailableNow(spark: SparkSession, corpus: DataFrame,
                                isHoldout: Column,
                                numFiles: Int = 4): (DataFrame, StreamRunStats) =
    staged(spark, "pipe") { stage =>
      val docs = corpus.select("doc_id", "text")
      stage.slices(docs, col("doc_id"), numFiles)
      val st = new graft.store.CleanStateStore(spark,
        stage.dir.resolve("clean-state").toString)
      st.rebuild(docs.filter(lit(false)), isHoldout) // empty bootstrap
      val stats = stage.drain { (batch, lookup, _) =>
        Seam.scoped(seam => st.absorb(st.applyBatch(seam, batch, lookup, isHoldout)))
      }
      val keep = claimResultDir("stream_pipeline").resolve("survivors").toString
      val survivors = st.survivors()
      survivors.write.parquet(keep)
      (spark.read.schema(survivors.schema).parquet(keep).select(col("doc_id").cast("long")),
        stats)
    }

  /** run the streaming ingest over a directory of text files using
    * AvailableNow (incremental batch), writing chunk parquet + checkpoint */
  def runAvailableNow(docs: Dataset[Ingest.Doc], mkEmbedder: () => Embedder,
                      timestamp: String, outPath: String, checkpoint: String): Unit = {
    val q = chunkStream(docs, mkEmbedder, timestamp)
      .writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
