package graft.store

import java.util.concurrent.{ExecutionException, FutureTask}

import scala.jdk.CollectionConverters._
import scala.util.{Failure, Try}

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ChunkSchema

/** Parquet-backed chunk table with the reference's store operations
  * (`src/vectordb/index.ts`): insert, delete-by-filePath, upsert, neighbor
  * range reads, and the per-file questions — listing, status counts, the
  * sync manifest — answered from a per-file catalog.
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
  * The catalog (the Delta Lake pattern of per-file facts in the log): the
  * same commit that names `chunks` names a small `files` table — one row
  * per filePath with (contentHash, chunkCount, lastModified) — and carries
  * the stats `n_chunks`/`n_files`, so the catalog is exact by
  * construction. The writer derives it from the base version's catalog
  * plus the mutation's delta, never from an aggregate over `chunks`, and
  * the stats are observed metrics of that one write. A file's
  * `contentHash` is null when its chunks carry a null hash or more than
  * one hash; sync treats such a file as dirty either way. Readers answer
  * `status` from the stats (no job) and `listFiles`/`manifest` from the
  * collected catalog, memoized on its immutable directory (one small scan
  * cold, none warm). A version committed before the catalog existed
  * derives it from its chunks once, and the next commit persists it.
  *
  * Scale posture: one unbucketed table, rewritten whole by every mutation
  * batch (an insert appends a directory); neighbor reads push
  * (filePath, chunkIndex) predicates to parquet row groups. Bucket-granular
  * copy-on-write on the same log is [[VersionedStore]]'s layout; moving
  * this table onto it is ROADMAP.md open item 3's remaining half.
  */
final class ChunkStore(spark: SparkSession, path: String) {
  import ChunkStore._

  private val log = new StoreLog(spark, path)

  def exists: Boolean = !log.latest().isEmpty

  def read(): DataFrame = read(log.latest())

  private[store] def read(m: Manifest): DataFrame =
    if (m.dirs(Chunks).isEmpty) local(Seq.empty, ChunkSchema.schema)
    else spark.read.schema(ChunkSchema.schema).parquet(m.dirs(Chunks).map(log.abs): _*)

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  // ---- writes: every commit names `chunks` and `files` ----

  /** Writes `catalog` (the files columns plus a `_fresh` flag) as a fresh
    * `files` directory. The stats, and the number of fresh rows, are
    * observed metrics of that one write. */
  private def writeCatalog(catalog: DataFrame): (Catalog, Long) = {
    val obs = Observation()
    val dir = log.write(Files, catalog.observe(obs,
        count(lit(1)).as(NFiles), coalesce(sum("chunkCount"), lit(0L)).as(NChunks),
        count(when(col("_fresh"), 1)).as("fresh"))
      .select(FilesSchema.fieldNames.map(col): _*))
    val m = obs.get
    def n(k: String) = m(k).asInstanceOf[Long]
    (Catalog(dir, Map(NChunks -> n(NChunks), NFiles -> n(NFiles))), n("fresh"))
  }

  /** Writes `kept` catalog rows plus driver-built `added` entries as one
    * file: a filter and a union, no shuffle and no aggregate to plan —
    * the catalog of a delete or of one file's upsert. */
  private def writeKept(kept: DataFrame, added: Seq[Row]): Catalog =
    writeCatalog(kept.unionByName(local(added, FilesSchema)).coalesce(1)
      .withColumn("_fresh", lit(false)))._1

  /** Runs `a` here and `b` on a fresh thread, and returns both once both
    * finished (the first failure rethrown). A single-file mutation's table
    * and catalog writes are independent and mostly a write job's fixed
    * cost, so they overlap. The thread is fresh so that it inherits this
    * thread's Spark job group, description and call site. */
  private def both[A, B](a: => A, b: => B): (A, B) = {
    val fb = new FutureTask[B](() => b)
    val t = new Thread(fb, "graft-store-write")
    t.setDaemon(true)
    t.start()
    val ra = Try(a)
    val rb = Try(fb.get()).recoverWith { case e: ExecutionException => Failure(e.getCause) }
    (ra.get, rb.get)
  }

  /** publish `chunks` and `files` as the table's next version over `base` */
  private def publish(base: Manifest, chunks: Seq[String], files: Catalog): Unit =
    log.publish(base, Manifest(
      tables = Map(Chunks -> chunks, Files -> Seq(files.dir)), stats = files.stats)): Unit

  /** append-only insert: one more directory (at [[StoreLog.MaxDirs]] the
    * table is compacted into one, that directory included). The catalog
    * merges the new directory's rows, read back by their keys, so the
    * caller's frame is computed once. */
  def insert(chunks: DataFrame): Unit = {
    val base = log.latest()
    val added = Seq(log.write(Chunks, chunks))
    val (files, _) = writeCatalog(merged(catalogFrame(base).withColumn("_src", lit(Replacing))
      .unionByName(entries(read(Manifest(Map(Chunks -> added))), Replacing)).coalesce(1)))
    val dirs = base.dirs(Chunks) ++ added
    publish(base,
      if (dirs.size <= StoreLog.MaxDirs) dirs
      else Seq(log.write(Chunks, read(base.copy(tables = Map(Chunks -> dirs))))),
      files)
  }

  def deleteFile(filePath: String): Unit = deleteFiles(Seq(filePath))

  /** delete every row of `paths` as one table write (sync's stale-spelling
    * and prune deletes); no paths, no commit */
  def deleteFiles(paths: Seq[String]): Unit = if (paths.nonEmpty) {
    val base = log.latest()
    val kept = !col("filePath").isin(paths: _*)
    val (dir, files) = both(log.write(Chunks, read(base).filter(kept)),
      writeKept(catalogFrame(base).filter(kept), Seq.empty))
    publish(base, Seq(dir), files)
  }

  /** upsert = replace all chunks of `filePath` with `newChunks`, every one
    * of which must belong to `filePath`. Fails BEFORE any write if
    * newChunks is empty — the reference's NoChunksError invariant. The
    * file's catalog entry is built on the driver from the new rows'
    * collected keys, by [[merged]]'s rule. */
  def upsertFile(filePath: String, newChunks: DataFrame): Unit = {
    val keys = newChunks.select("filePath", "contentHash", "timestamp").collect()
    if (keys.isEmpty)
      throw new graft.ingest.Ingest.NoChunksError(filePath)
    require(keys.forall(_.getString(0) == filePath),
      s"upsertFile($filePath) got rows of another file")
    val hash = keys.map(r => Option(r.getString(1))).distinct match {
      case Array(Some(h)) => h
      case _ => null
    }
    val entry = Row(filePath, hash, keys.length.toLong,
      keys.flatMap(r => Option(r.getString(2))).maxOption.orNull)
    val base = log.latest()
    val kept = col("filePath") =!= filePath
    val (dir, files) = both(log.write(Chunks, read(base).filter(kept)
        .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*))),
      writeKept(catalogFrame(base).filter(kept), Seq(entry)))
    publish(base, Seq(dir), files)
  }

  /** Batched upsert — the sync execute path: replace all chunks of every
    * file `newChunks` has rows for AND delete all rows of `deletePaths`, as
    * ONE table write instead of one rewrite per file. The replace set is
    * derived FROM the rows, so the driver never holds O(dirty files)
    * strings. Returns the number of distinct files the rows cover (the
    * batch's `upserted` count), observed on the catalog write. Zero-chunk
    * semantics: a file with no rows in `newChunks` is absent from the
    * replace set, so its existing rows survive; a prune-only batch passes
    * empty rows. A batch that covers no file and deletes nothing commits
    * nothing (its catalog directory is debris for the vacuum). */
  def upsertFilesFromRows(newChunks: DataFrame,
                          deletePaths: Seq[String] = Seq.empty): Long = {
    import spark.implicits._
    val base = log.latest()
    val deletes = deletePaths.map(p => Row(p, null, 0L, null))
    val (files, produced) = writeCatalog(merged(
      catalogFrame(base).withColumn("_src", lit(Base))
        .unionByName(local(deletes, FilesSchema).withColumn("_src", lit(Removing)))
        .unionByName(entries(newChunks, Replacing))))
    if (produced == 0L && deletePaths.isEmpty) return 0L
    // no broadcast hint: the derived key set is unbounded (every dirty file
    // of the batch), so AQE's runtime sizing picks broadcast vs shuffled
    // anti-join
    val affected = newChunks.select("filePath").unionByName(deletePaths.toDF("filePath")).distinct()
    publish(base, Seq(log.write(Chunks, read(base).join(affected, Seq("filePath"), "left_anti")
        .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)))),
      files)
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

  // ---- the catalog ----

  /** `m`'s catalog as a Spark scan: its `files` table, or — for a version
    * committed before the catalog existed — the same entries derived from
    * its chunks */
  private def catalogFrame(m: Manifest): DataFrame =
    if (m.dirs(Files).nonEmpty)
      spark.read.schema(FilesSchema).parquet(m.dirs(Files).map(log.abs): _*)
    else if (m.dirs(Chunks).isEmpty) local(Seq.empty, FilesSchema)
    else merged(entries(read(m), Replacing)).select(FilesSchema.fieldNames.map(col): _*)

  /** `m`'s catalog collected and sorted by filePath, memoized on the
    * immutable directories it is read from */
  private def catalog(m: Manifest): IndexedSeq[Row] = {
    val dirs = (if (m.dirs(Files).nonEmpty) m.dirs(Files) else m.dirs(Chunks)).map(log.abs)
    if (dirs.isEmpty) IndexedSeq.empty
    else StoreLog.memo(s"catalog@${dirs.mkString(",")}")(
      catalogFrame(m).collect().toIndexedSeq.sortBy(r => UTF8String.fromString(r.getString(0))))
  }

  /** the latest version's catalog (filePath, contentHash, chunkCount,
    * lastModified) as a Spark scan — O(files) rows for the distributed
    * sync route, never collected */
  def files(): DataFrame = catalogFrame(log.latest())

  /** per-file listing (reference `listFiles`, `src/vectordb/index.ts:511-556`):
    * (filePath, chunkCount, lastModified) sorted by filePath, as a local
    * DataFrame over the collected catalog */
  def listFiles(): DataFrame =
    local(catalog(log.latest()).map(r => Row(r.get(0), r.get(2), r.get(3))), ListSchema)

  /** status counts (reference `src/vectordb/index.ts:585-595`): (chunks,
    * files) from the version's stats — no Spark job */
  def status(): (Long, Long) = status(log.latest())

  private[store] def status(m: Manifest): (Long, Long) =
    if (m.dirs(Files).nonEmpty) (m.stat(NChunks), m.stat(NFiles))
    else { val c = catalog(m); (c.map(_.getLong(2)).sum, c.size.toLong) }

  /** manifest projection for sync (reference `listChunkHashes`,
    * `src/vectordb/index.ts:480-504`): one (filePath, contentHash) row per
    * stored file, as a local DataFrame over the collected catalog */
  def manifest(): DataFrame =
    local(catalog(log.latest()).map(r => Row(r.get(0), r.get(1))), ManifestSchema)

  /** S12 compaction — the reference's `table.optimize()`
    * (`src/vectordb/index.ts:317-324`), called once per batch, not per
    * file: when the latest version spans more than `maxFragments` parquet
    * files (each insert adds files), rewrite it as one. Superseded
    * directories go with the commit's vacuum. */
  def optimize(maxFragments: Int = 4): Unit = {
    val base = log.latest()
    if (read(base).inputFiles.length > maxFragments)
      // the catalog and its stats carry over unchanged
      log.publish(base, base.copy(tables =
        base.tables + (Chunks -> Seq(log.write(Chunks, read(base).coalesce(1)))))): Unit
  }
}

object ChunkStore {
  /** One written catalog: its directory and the commit's stats. */
  private final case class Catalog(dir: String, stats: Map[String, Long])

  private val Chunks = "chunks"
  private val Files = "files"
  private val NChunks = "n_chunks"
  private val NFiles = "n_files"

  /** the `files` table: one row per stored filePath */
  private val FilesSchema: StructType = StructType(Seq(
    StructField("filePath", StringType, nullable = false),
    StructField("contentHash", StringType),
    StructField("chunkCount", LongType, nullable = false),
    StructField("lastModified", StringType)))

  private val ListSchema = StructType(Seq(FilesSchema(0), FilesSchema(2), FilesSchema(3)))
  private val ManifestSchema = StructType(Seq(FilesSchema(0), FilesSchema(1)))

  // where a catalog row comes from, for [[merged]]
  private val Base = 0
  private val Removing = 1
  private val Replacing = 2

  /** chunk rows as one-chunk catalog entries (filePath, contentHash,
    * chunkCount = 1, lastModified = timestamp); a frame of legacy columns
    * without a hash or timestamp gives null ones */
  private def entries(chunks: DataFrame, src: Int): DataFrame = {
    def opt(c: String) = if (chunks.columns.contains(c)) col(c) else lit(null).cast(StringType)
    chunks.select(col("filePath"), opt("contentHash").as("contentHash"),
      lit(1L).as("chunkCount"), opt("timestamp").as("lastModified"), lit(src).as("_src"))
  }

  /** The per-file catalog of `rows`, catalog entries tagged with `_src`, in
    * one aggregate on filePath. A file with `Replacing` entries keeps only
    * those, merged: counts add, the latest lastModified wins, and the hash
    * survives only when every entry carries the same one. Otherwise a
    * file with a `Removing` entry is dropped, and one with only its `Base`
    * entry keeps it. `_fresh` marks the files with `Replacing` entries. */
  private def merged(rows: DataFrame): DataFrame = {
    def fresh(c: Column) = when(col("_src") === Replacing, c)
    def base(c: String) = max(when(col("_src") === Base, col(c)))
    val hash = fresh(col("contentHash"))
    rows.groupBy("filePath").agg(
        count(fresh(lit(1))).as("n"), count(hash).as("hashed"),
        min(hash).as("h"), max(hash).as("h1"),
        sum(fresh(col("chunkCount"))).as("c"), max(fresh(col("lastModified"))).as("t"),
        base("contentHash").as("bh"), base("chunkCount").as("bc"), base("lastModified").as("bt"),
        count(when(col("_src") === Base, 1)).as("nb"), max(col("_src") === Removing).as("gone"))
      .filter(col("n") > 0 || (col("nb") > 0 && !col("gone")))
      .select(col("filePath"),
        when(col("n") > 0, when(col("hashed") === col("n") && col("h") === col("h1"), col("h")))
          .otherwise(col("bh")).as("contentHash"),
        when(col("n") > 0, col("c")).otherwise(col("bc")).as("chunkCount"),
        when(col("n") > 0, col("t")).otherwise(col("bt")).as("lastModified"),
        (col("n") > 0).as("_fresh"))
  }
}
