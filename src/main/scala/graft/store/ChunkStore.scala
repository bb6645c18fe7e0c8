package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ChunkSchema

/** Parquet-backed chunk table with the reference's store operations
  * (`src/vectordb/index.ts`): insert, delete-by-filePath, upsert, neighbor
  * range reads, per-file aggregates, status counts, manifest projection.
  *
  * Every mutation writes the new table into a fresh directory and
  * publishes it with one [[StoreLog]] commit: the idiomatic, atomic
  * replacement for the reference's delete → insert → backup/rollback dance
  * (`src/server/index.ts:645-701`, SURVEY §7 "what's hard" #2). A crash
  * before the commit leaves the previous version current; a reader reads
  * the version it resolved, whatever commits meanwhile. The zero-chunk
  * fail-fast BEFORE any write (`:635-642`) is preserved as a hard
  * invariant.
  *
  * Scale posture: one unbucketed table, rewritten whole by every mutation
  * batch (an insert appends a directory); neighbor reads push
  * (filePath, chunkIndex) predicates to parquet row groups. Bucket-granular
  * copy-on-write on the same log is [[VersionedStore]]'s layout; moving
  * this table onto it is ROADMAP.md open item 3's remaining half.
  */
final class ChunkStore(spark: SparkSession, path: String) {

  private val log = new StoreLog(spark, path)
  private val Chunks = "chunks"

  def exists: Boolean = !log.latest().isEmpty

  def read(): DataFrame = read(log.latest())

  private def read(m: Manifest): DataFrame =
    if (m.dirs(Chunks).isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ChunkSchema.schema)
    else spark.read.schema(ChunkSchema.schema).parquet(m.dirs(Chunks).map(log.abs): _*)

  /** publish `dirs` as the table's next version over `base` */
  private def publish(base: Manifest, dirs: Seq[String]): Unit =
    log.publish(base, Manifest(tables = Map(Chunks -> dirs))): Unit

  /** replace the table with `df` */
  private def rewrite(base: Manifest, df: DataFrame): Unit =
    publish(base, Seq(log.write(Chunks, df)))

  /** append-only insert: one more directory (the table is compacted into
    * one when it would exceed [[StoreLog.MaxDirs]]) */
  def insert(chunks: DataFrame): Unit = {
    val base = log.latest()
    val dirs = base.dirs(Chunks)
    if (dirs.size < StoreLog.MaxDirs) publish(base, dirs :+ log.write(Chunks, chunks))
    else rewrite(base, read(base).unionByName(chunks, allowMissingColumns = true))
  }

  def deleteFile(filePath: String): Unit = {
    val base = log.latest()
    rewrite(base, read(base).filter(col("filePath") =!= filePath))
  }

  /** upsert = replace all chunks of `filePath` with `newChunks`.
    * Fails BEFORE any write if newChunks is empty — the reference's
    * NoChunksError invariant. */
  def upsertFile(filePath: String, newChunks: DataFrame): Unit = {
    if (newChunks.isEmpty)
      throw new graft.ingest.Ingest.NoChunksError(filePath)
    val base = log.latest()
    rewrite(base, read(base).filter(col("filePath") =!= filePath)
      .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)))
  }

  /** Batched upsert — the sync execute path: replace all chunks of every
    * file `newChunks` has rows for AND delete all rows of `deletePaths`, as
    * ONE table write instead of one rewrite per file. The replace set is
    * derived FROM the rows, so the driver never holds O(dirty files)
    * strings. Returns the number of distinct files the rows cover (the
    * batch's `upserted` count). Zero-chunk semantics: a file with no rows
    * in `newChunks` is absent from the replace set, so its existing rows
    * survive; a prune-only batch passes empty rows. */
  def upsertFilesFromRows(newChunks: DataFrame,
                          deletePaths: Seq[String] = Seq.empty): Long = {
    import spark.implicits._
    val producedPaths = newChunks.select("filePath").distinct()
    val produced = producedPaths.count()
    if (produced == 0L && deletePaths.isEmpty) return 0L
    // no broadcast hint: the derived key set is unbounded (every dirty file
    // of the batch), so AQE's runtime sizing picks broadcast vs shuffled
    // anti-join
    val affected = producedPaths.unionByName(deletePaths.toDF("filePath")).distinct()
    val base = log.latest()
    rewrite(base, read(base).join(affected, Seq("filePath"), "left_anti")
      .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)))
    produced
  }

  /** neighbor range read (reference `src/vectordb/index.ts:138-164`,
    * handler clamp `src/server/index.ts:1035-1037`): chunks of one file with
    * chunkIndex ∈ [max(0, target-before), target+after], sorted asc
    * (a contract, not incidental order), target flagged. The range is at
    * most 101 rows, so it is collected in one Spark job and sorted on the
    * driver; the returned DataFrame is local. */
  def neighbors(filePath: String, target: Int, before: Int = 2, after: Int = 2): DataFrame = {
    require(before >= 0 && before <= 50 && after >= 0 && after <= 50,
      "before/after must be in 0..50") // ref: tool-input.ts:195-204
    val lo = math.max(0, target - before)
    val hi = target + after
    val range = read().filter(col("filePath") === filePath && col("chunkIndex").between(lo, hi))
      .withColumn("isTarget", col("chunkIndex") === target)
    val rows = range.collect()
    graft.core.DriverProbe.record("neighbors_range", rows.length.toLong, hi - lo + 1L)
    val sorted = rows.sortBy(_.getInt(range.schema.fieldIndex("chunkIndex")))
    spark.createDataFrame(java.util.Arrays.asList(sorted: _*), range.schema)
  }

  /** per-file (filePath, chunkCount, lastModified) aggregate, unordered */
  def fileStats(): DataFrame =
    read().groupBy("filePath")
      .agg(count(lit(1)).as("chunkCount"), max("timestamp").as("lastModified"))

  /** per-file listing aggregate (reference `listFiles`,
    * `src/vectordb/index.ts:511-556`) */
  def listFiles(): DataFrame = fileStats().orderBy("filePath")

  /** status counts (reference `src/vectordb/index.ts:585-595`): chunks and
    * distinct files from one aggregate */
  def status(): (Long, Long) = {
    val r = read().agg(count(lit(1)), countDistinct("filePath")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** manifest projection for sync (reference `listChunkHashes`,
    * `src/vectordb/index.ts:480-504`): one row per stored (filePath,
    * contentHash) pair — column-pruned, vectors never read. */
  def manifest(): DataFrame =
    read().select("filePath", "contentHash").distinct()

  /** S12 compaction — the reference's `table.optimize()`
    * (`src/vectordb/index.ts:317-324`), called once per batch, not per
    * file: when the latest version spans more than `maxFragments` parquet
    * files (each insert adds files), rewrite it as one. Superseded
    * directories go with the commit's vacuum. */
  def optimize(maxFragments: Int = 4): Unit = {
    val base = log.latest()
    if (read(base).inputFiles.length > maxFragments) rewrite(base, read(base).coalesce(1))
  }
}
