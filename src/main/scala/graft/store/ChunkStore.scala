package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ChunkSchema

/** Parquet-backed chunk table with the reference's store operations
  * (`src/vectordb/index.ts`): insert, delete-by-filePath, upsert, neighbor
  * range reads, per-file aggregates, status counts, manifest projection.
  *
  * Upsert is write-new-table-then-swap: the idiomatic, atomic replacement for
  * the reference's delete → insert → backup/rollback dance
  * (`src/server/index.ts:645-701`, SURVEY §7 "what's hard" #2). On a real
  * deployment this is Delta `replaceWhere`/`MERGE` or an overwrite of the
  * file's partition; plain parquet here, but the zero-chunk fail-fast BEFORE
  * any destructive step (`:635-642`) is preserved as a hard invariant.
  *
  * Scale posture: one unbucketed table, rewritten whole by every mutation
  * batch through [[DirSwap]]; neighbor reads push (filePath, chunkIndex)
  * predicates to parquet row groups. The scale layout for the chunk table
  * is [[VersionedStore]]'s — bucket-granular copy-on-write upserts behind
  * compare-and-swap commits — and moving the table onto it is ROADMAP.md
  * open item 3 (one commit protocol), not a second path here.
  */
final class ChunkStore(spark: SparkSession, path: String) {

  private def fs: FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new HPath(path))

  def read(): DataFrame =
    if (exists) spark.read.schema(ChunkSchema.schema).parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ChunkSchema.schema)

  /** append-only insert (first write creates the table) */
  def insert(chunks: DataFrame): Unit =
    chunks.write.mode(SaveMode.Append).parquet(path)

  /** atomic replace of the table with `df` through [[DirSwap]] (its tmp/old
    * siblings live beside the table root, never inside it) */
  private def swapTable(df: DataFrame): Unit =
    DirSwap.swapInto(fs, path, path)(tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp))

  def deleteFile(filePath: String): Unit =
    swapTable(read().filter(col("filePath") =!= filePath))

  /** upsert = replace all chunks of `filePath` with `newChunks`.
    * Fails BEFORE any destructive step if newChunks is empty — the
    * reference's NoChunksError invariant. */
  def upsertFile(filePath: String, newChunks: DataFrame): Unit = {
    if (newChunks.isEmpty)
      throw new graft.ingest.Ingest.NoChunksError(filePath)
    swapTable(read().filter(col("filePath") =!= filePath)
      .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)))
  }

  /** Batched upsert — the sync execute path at scale: replace all chunks
    * of `replacePaths` with the matching rows of `newChunks` AND delete
    * all rows of `deletePaths`, as ONE Spark write job instead of one
    * table rewrite per file. `newChunks` must contain rows ONLY for
    * `replacePaths`; files in neither list keep their rows. The zero-chunk
    * invariant lives one level up: the sync executor lists a file in
    * `replacePaths` only when its parse produced chunks, so a zero-chunk
    * file's existing rows survive by construction. */
  def upsertFiles(newChunks: DataFrame, replacePaths: Seq[String],
                  deletePaths: Seq[String] = Seq.empty): Unit = {
    import spark.implicits._
    val affected = (replacePaths ++ deletePaths).distinct
    if (affected.isEmpty) return
    // removal via broadcast anti-join, not a giant literal IN list — the
    // affected set is every dirty file of the batch
    replaceFiles(newChunks, broadcast(affected.toDF("filePath")))
  }

  /** [[upsertFiles]] with the replace set derived FROM `newChunks` instead
    * of a driver-side path list: the anti-join key set comes from the rows
    * themselves, so the driver never holds O(dirty files) strings. Returns
    * the number of distinct files the rows cover (the batch's `upserted`
    * count). Zero-chunk semantics are inherited: a file with no rows in
    * `newChunks` is absent from the derived replace set, so its existing
    * rows survive. */
  def upsertFilesFromRows(newChunks: DataFrame,
                          deletePaths: Seq[String] = Seq.empty): Long = {
    import spark.implicits._
    val producedPaths = newChunks.select("filePath").distinct()
    val produced = producedPaths.count()
    if (produced == 0L && deletePaths.isEmpty) return 0L
    // no broadcast hint here: the derived key set is unbounded (every dirty
    // file of the batch), so AQE's runtime sizing picks broadcast vs
    // shuffled anti-join — the one place the literal-list path could not
    replaceFiles(newChunks,
      producedPaths.unionByName(deletePaths.toDF("filePath")).distinct())
    produced
  }

  /** rewrite the table without the `affected` files' rows, plus `newChunks` */
  private def replaceFiles(newChunks: DataFrame, affected: DataFrame): Unit =
    swapTable(read().join(affected, Seq("filePath"), "left_anti")
      .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)))

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

  /** S12 compaction — the reference's `table.optimize({cleanupOlderThan})`
    * (`src/vectordb/index.ts:317-324`), called once per batch, not per
    * file. Two jobs:
    *  1. rewrite the table into one file when it holds more than
    *     `maxFragments` parquet files, via the same atomic swap as upsert
    *     (append-heavy ingest fragments: each insert adds files);
    *  2. sweep swap debris older than `cleanupOlderThanMs`
    *     ([[DirSwap.sweepDebris]]). */
  def optimize(maxFragments: Int = 4,
               cleanupOlderThanMs: Long = DirSwap.DebrisAgeMs): Unit = {
    val f = fs
    val root = new HPath(path)
    val fragments =
      if (!f.exists(root)) 0
      else f.listStatus(root).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    if (fragments > maxFragments) swapTable(read().coalesce(1))
    DirSwap.sweepDebris(f, path, cleanupOlderThanMs)
  }
}
