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
  * Scale posture: the table would be partitioned by a path-hash bucket
  * (`bucket(filePath)`) so delete/upsert touches one partition and per-file
  * reads prune to one bucket; neighbor reads push (filePath, chunkIndex)
  * predicates to parquet row groups.
  */
final class ChunkStore(spark: SparkSession, path: String, numBuckets: Int = 0) {

  private def bucketed: Boolean = numBuckets > 0

  /** partition id for a file: portable 60-bit md5 hash mod numBuckets —
    * identical Scala/Column twins so planner and executor agree */
  def bucketOf(filePath: String): Long =
    math.floorMod(graft.ops.Dedup.hash60Scala(filePath), numBuckets.toLong)

  private def bucketCol = pmod(graft.ops.Dedup.hash60(col("filePath")), lit(numBuckets.toLong))

  private def fs: FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new HPath(path))

  def read(): DataFrame =
    if (exists)
      spark.read.schema(
        if (bucketed) ChunkSchema.schema.add("pbucket", "long") else ChunkSchema.schema)
        .parquet(path)
        .select(ChunkSchema.schema.fieldNames.map(col): _*)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ChunkSchema.schema)

  /** append-only insert (first write creates the table). In bucketed mode
    * rows land in their path-hash partition directory, so every later
    * per-file operation touches exactly one partition. */
  def insert(chunks: DataFrame): Unit =
    if (bucketed)
      chunks.withColumn("pbucket", bucketCol)
        .write.partitionBy("pbucket").mode(SaveMode.Append).parquet(path)
    else chunks.write.mode(SaveMode.Append).parquet(path)

  /** atomic replace of one directory through [[DirSwap]]; its tmp/old
    * siblings live OUTSIDE the table root (a `pbucket=N` sibling inside it
    * would be parsed as a partition value and poison every later read) */
  private def swapDir(target: String, df: DataFrame): Unit =
    DirSwap.swapInto(fs, path, target)(tmp =>
      df.write.mode(SaveMode.Overwrite).parquet(tmp))

  /** current rows of one bucket partition (bucketed mode only) */
  def readBucket(bucket: Long): DataFrame = {
    require(bucketed, "readBucket requires a bucketed store")
    val partDir = s"$path/pbucket=$bucket"
    if (fs.exists(new HPath(partDir)))
      spark.read.schema(ChunkSchema.schema).parquet(partDir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ChunkSchema.schema)
  }

  /** rewrite only what a single-file mutation touches: the file's bucket
    * partition in bucketed mode (1/numBuckets of the data — the 100 TB
    * shape), the whole table otherwise */
  private def rewriteForFile(filePath: String,
                             transform: DataFrame => DataFrame): Unit = {
    if (bucketed) {
      val b = bucketOf(filePath)
      val partDir = s"$path/pbucket=$b"
      val existing =
        if (fs.exists(new HPath(partDir)))
          spark.read.schema(ChunkSchema.schema).parquet(partDir)
        else spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ChunkSchema.schema)
      swapDir(partDir, transform(existing))
    } else swapDir(path, transform(read()))
  }

  def deleteFile(filePath: String): Unit =
    rewriteForFile(filePath, _.filter(col("filePath") =!= filePath))

  /** upsert = replace all chunks of `filePath` with `newChunks`.
    * Fails BEFORE any destructive step if newChunks is empty — the
    * reference's NoChunksError invariant. */
  def upsertFile(filePath: String, newChunks: DataFrame): Unit = {
    if (newChunks.isEmpty)
      throw new graft.ingest.Ingest.NoChunksError(filePath)
    rewriteForFile(filePath,
      _.filter(col("filePath") =!= filePath)
        .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)))
  }

  /** Batched upsert — the sync execute path at scale: replace all chunks
    * of `replacePaths` with the matching rows of `newChunks` AND delete
    * all rows of `deletePaths`, as ONE Spark write job (plus O(affected
    * buckets) driver-side renames in bucketed mode) instead of one
    * table/bucket rewrite per file. `newChunks` must contain rows ONLY
    * for `replacePaths`; files in neither list keep their rows, and in
    * bucketed mode their buckets are not even read. The zero-chunk
    * invariant lives one level up: the sync executor lists a file in
    * `replacePaths` only when its parse produced chunks, so a
    * zero-chunk file's existing rows survive by construction.
    * Crash posture (bucketed): buckets swap one rename at a time, so a
    * crash mid-sequence leaves some buckets new and some old — each
    * bucket is internally consistent (never torn), and the next sync
    * reconciles the remainder by content hash. */
  def upsertFiles(newChunks: DataFrame, replacePaths: Seq[String],
                  deletePaths: Seq[String] = Seq.empty): Unit = {
    import spark.implicits._
    val affected = (replacePaths ++ deletePaths).distinct
    if (affected.isEmpty) return
    val projected = newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)
    // removal via broadcast anti-join, not a giant literal IN list — the
    // affected set is every dirty file of the batch
    upsertCore(projected, broadcast(affected.toDF("filePath")),
      affected.map(bucketOf).distinct.sorted)
  }

  /** [[upsertFiles]] with the replace set derived FROM `newChunks` instead
    * of a driver-side path list: the anti-join key set and (bucketed) the
    * affected-bucket list come from aggregates over the rows, so the driver
    * never holds O(dirty files) strings — only O(numBuckets) bucket ids in
    * bucketed mode. Returns the number of distinct files the rows cover
    * (the batch's `upserted` count), from the same aggregate. Zero-chunk
    * semantics are inherited: a file with no rows in `newChunks` is absent
    * from the derived replace set, so its existing rows survive. */
  def upsertFilesFromRows(newChunks: DataFrame,
                          deletePaths: Seq[String] = Seq.empty): Long = {
    import spark.implicits._
    val projected = newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)
    val producedPaths = projected.select("filePath").distinct()
    val produced = producedPaths.count()
    if (produced == 0L && deletePaths.isEmpty) return 0L
    // no broadcast hint here: the derived key set is unbounded (every dirty
    // file of the batch), so AQE's runtime sizing picks broadcast vs
    // shuffled anti-join — the one place the literal-list path could not
    val affectedDF =
      producedPaths.unionByName(deletePaths.toDF("filePath")).distinct()
    val buckets =
      if (!bucketed) Seq.empty[Long]
      else affectedDF.select(bucketCol.as("b")).distinct()
        .as[Long].collect().toSeq.sorted // O(numBuckets), bounded
    upsertCore(projected, affectedDF, buckets)
    produced
  }

  private def upsertCore(projected: DataFrame, affectedDF: DataFrame,
                         buckets: Seq[Long]): Unit = {
    if (!bucketed) {
      val keep = read().join(affectedDF, Seq("filePath"), "left_anti")
      swapDir(path, keep.unionByName(projected))
    } else {
      val f = fs
      val liveDirs = buckets.map(b => s"$path/pbucket=$b")
        .filter(d => f.exists(new HPath(d)))
      val existing =
        if (liveDirs.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ChunkSchema.schema)
        else spark.read.schema(ChunkSchema.schema).parquet(liveDirs: _*)
      val keep = existing.join(affectedDF, Seq("filePath"), "left_anti")
      val out = keep.unionByName(projected).withColumn("pbucket", bucketCol)
      val (tmp, oldBase) = DirSwap.siblings(path)
      out.write.partitionBy("pbucket").mode(SaveMode.Overwrite).parquet(tmp)
      if (!f.exists(new HPath(path))) f.mkdirs(new HPath(path))
      buckets.foreach { b =>
        val live = new HPath(s"$path/pbucket=$b")
        val fresh = new HPath(s"$tmp/pbucket=$b")
        val old = new HPath(s"$oldBase-$b")
        val hadLive = f.exists(live)
        if (hadLive && !f.rename(live, old))
          throw new java.io.IOException(
            s"batch swap failed: could not move $live aside")
        if (f.exists(fresh) && !f.rename(fresh, live)) {
          if (hadLive) f.rename(old, live)
          throw new java.io.IOException(
            s"batch swap failed: could not move $fresh into place")
        }
        if (hadLive) f.delete(old, true)
      }
      f.delete(new HPath(tmp), true)
    }
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

  /** S12 compaction — the reference's `table.optimize({cleanupOlderThan})`
    * (`src/vectordb/index.ts:317-324`), called once per batch, not per
    * file. Two jobs:
    *  1. rewrite every partition (bucket, or the whole unbucketed table)
    *     holding more than `maxFragments` parquet files into one file via
    *     the same atomic swap as upsert (append-heavy ingest fragments:
    *     each insert adds files; per-bucket reads degrade with file count);
    *  2. sweep swap debris older than `cleanupOlderThanMs`
    *     ([[DirSwap.sweepDebris]]). */
  def optimize(maxFragments: Int = 4,
               cleanupOlderThanMs: Long = DirSwap.DebrisAgeMs): Unit = {
    val f = fs
    def fragmentCount(dir: String): Int = {
      val p = new HPath(dir)
      if (!f.exists(p)) 0
      else f.listStatus(p).count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    }
    if (bucketed) {
      val root = new HPath(path)
      if (f.exists(root)) {
        f.listStatus(root).filter(_.isDirectory)
          .map(_.getPath).filter(_.getName.startsWith("pbucket="))
          .foreach { part =>
            if (fragmentCount(part.toString) > maxFragments) {
              val df = spark.read.schema(ChunkSchema.schema).parquet(part.toString)
              swapDir(part.toString, df.coalesce(1))
            }
          }
      }
    } else if (fragmentCount(path) > maxFragments) {
      swapDir(path, read().coalesce(1))
    }
    DirSwap.sweepDebris(f, path, cleanupOlderThanMs)
  }
}
