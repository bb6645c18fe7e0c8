package graft.store

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ChunkSchema

/** Snapshot-versioned chunk table: the Delta-style transaction layer the
  * reference approximates with backup/rollback around delete+insert
  * (`src/server/index.ts:645-701`) — rebuilt on the log-structured pattern
  * the lakehouse formats use (public design: the Delta Lake paper,
  * VLDB 2020). It runs on [[StoreLog]], the commit protocol every store in
  * this package shares:
  *
  *  - data files are immutable; a write only ADDS files under `data/`;
  *  - a snapshot is a `_log/` manifest whose entries carry one row per data
  *    file with file-level stats (bucket, path, min/max filePath, row
  *    count), so reads can DATA-SKIP: [[readFile]] opens only the files
  *    whose [min,max] range can contain the requested path (the lakehouse
  *    min/max pruning pattern);
  *  - commit is the log's compare-and-swap, a file rename-if-absent onto
  *    the next version number: two writers racing to the same version
  *    means exactly one wins;
  *  - the loser rebases: bucket-granular copy-on-write means a concurrent
  *    upsert to a DIFFERENT bucket commutes, so the retry re-reads the
  *    latest manifest and re-applies its single-bucket delta;
  *  - readers never lock: `read()` resolves the latest manifest and reads
  *    exactly those files, so a reader started on v_n is unaffected by a
  *    concurrent commit of v_{n+1} (files are never mutated in place);
  *  - `readVersion(v)` is time travel; `vacuum(keep)` drops manifests older
  *    than the kept window and any data file no kept manifest references.
  *
  * Stats are gathered by reading each freshly staged file back (one
  * column-pruned min/max/count over `filePath`); a production writer would
  * surface them from the write tasks' parquet footers instead — the
  * manifest format and the pruning are the load-bearing parts.
  */
final class VersionedStore(spark: SparkSession, root: String, numBuckets: Int = 16) {

  private val dataDir = s"$root/data"
  private val log = new StoreLog(spark, root)

  private def fs: FileSystem = log.fs

  def bucketOf(filePath: String): Long =
    math.floorMod(graft.ops.Dedup.hash60Scala(filePath), numBuckets.toLong)

  // ---- manifests ----

  /** versions present in the log, ascending */
  def versions(): Seq[Long] = log.versions()

  def latestVersion(): Option[Long] = log.latestVersion()

  /** manifest body: one entry per data file with min/max filePath stats */
  private[store] def readManifest(v: Long): Seq[ManifestEntry] =
    log.manifest(v).entries.sortBy(e => (e.bucket, e.path))

  /** atomic commit of `entries` as version `v`: returns false when v was
    * taken by a concurrent writer (caller rebases and retries) */
  private def tryCommit(v: Long, entries: Seq[ManifestEntry]): Boolean =
    log.tryCommit(v, Manifest(entries = entries))

  // ---- data files ----

  /** write df's rows for ONE bucket as immutable files; returns the new
    * manifest entries WITH their pruning stats. Empty part files are
    * dropped (they carry no rows and would only widen later reads). */
  private def writeDataFiles(bucket: Long, df: DataFrame): Seq[ManifestEntry] = {
    val f = fs
    f.mkdirs(new HPath(dataDir))
    val staging = s"$root/.staging-${UUID.randomUUID()}"
    df.write.mode(SaveMode.Overwrite).parquet(staging)
    val parts = f.listStatus(new HPath(staging))
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    // ONE column-pruned stats pass over the whole staging dir, grouped by
    // source file — N sequential per-file jobs would multiply upsert
    // latency by the per-job scheduling floor (production: the write task
    // reports these from the parquet footer it just wrote). Zero-row part
    // files produce no group and are dropped below.
    val stats = spark.read.parquet(staging)
      .groupBy(input_file_name().as("src"))
      .agg(min("filePath").as("mn"), max("filePath").as("mx"),
        count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getString(1), r.getString(2), r.getLong(3))).toMap
    val entries = parts.toSeq.flatMap { s =>
      stats.get(s.getPath.getName) match {
        case None => f.delete(s.getPath, false); None // zero rows
        case Some((mn, mx, cnt)) =>
          val name = s"b$bucket-${UUID.randomUUID()}.parquet"
          if (!f.rename(s.getPath, new HPath(s"$dataDir/$name")))
            throw new java.io.IOException(s"could not stage data file $name")
          Some(ManifestEntry(bucket, s"data/$name", mn, mx, cnt))
      }
    }
    f.delete(new HPath(staging), true)
    entries
  }

  // ---- public API ----

  /** initialize an empty table (version 0, no files); no-op when it exists */
  def create(): Unit =
    if (latestVersion().isEmpty) {
      require(tryCommit(0L, Seq.empty), "concurrent create")
    }

  /** manifest paths are root-relative for files this table wrote, absolute
    * for files referenced across roots (shallow clones) */
  private def resolvePath(p: String): String = log.abs(p)

  private def snapshotDF(entries: Seq[ManifestEntry]): DataFrame =
    if (entries.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ChunkSchema.schema)
    else spark.read.schema(ChunkSchema.schema)
      .parquet(entries.map(e => resolvePath(e.path)): _*)

  /** read a specific snapshot (time travel) */
  def readVersion(v: Long): DataFrame = snapshotDF(readManifest(v))

  /** read the latest snapshot */
  def read(): DataFrame =
    latestVersion().map(readVersion).getOrElse(snapshotDF(Seq.empty))

  /** the data files of the latest snapshot whose stats can contain
    * `filePath` — bucket equality plus min/max range pruning. Exposed so
    * the spec can pin that a one-file read opens ONLY matching files. */
  def dataFilesFor(filePath: String): Seq[ManifestEntry] = {
    val b = bucketOf(filePath)
    latestVersion().map(readManifest).getOrElse(Seq.empty)
      .filter(e => e.bucket == b &&
        e.minPath != null && e.maxPath != null &&
        e.minPath <= filePath && filePath <= e.maxPath)
  }

  /** single-file read via manifest stats: only the files [[dataFilesFor]]
    * selects are opened — at 100 TB this is the difference between a
    * point lookup and a full-table scan */
  def readFile(filePath: String): DataFrame =
    snapshotDF(dataFilesFor(filePath)).filter(col("filePath") === filePath)

  /** multi-path pruned read: the union of [[dataFilesFor]] selections for
    * every requested path (deduplicated), with the exact residual filter.
    * The path set is expected to be churn-bounded (an incremental
    * consumer's affected keys), so the per-path manifest walk stays a
    * driver-side metadata pass. */
  def readFiles(filePaths: Seq[String]): DataFrame = {
    val entries = filePaths.flatMap(dataFilesFor).distinct
    snapshotDF(entries).filter(col("filePath").isInCollection(filePaths))
  }

  /** copy-on-write upsert of one file's chunks: rewrites ONLY the file's
    * bucket (other buckets' files are carried by reference), then commits
    * with CAS + rebase. Retries are bounded: bucket-disjoint writers always
    * commute, same-bucket writers serialize. */
  def upsertFile(filePath: String, newChunks: DataFrame,
                 maxRetries: Int = 20): Long = {
    require(newChunks.take(1).nonEmpty,
      s"refusing upsert of ZERO chunks for $filePath") // zero-chunk fail-fast
    rewriteFileBucket(filePath, Some(newChunks), maxRetries)
  }

  /** whole-file delete: the same single-bucket copy-on-write rewrite as
    * [[upsertFile]] with no replacement rows (the J6 stale-file delete at
    * the versioned layer). Deleting a file no stats range can contain is a
    * no-op that commits nothing. */
  def deleteFile(filePath: String, maxRetries: Int = 20): Long =
    if (dataFilesFor(filePath).isEmpty) latestVersion().getOrElse(0L)
    else rewriteFileBucket(filePath, None, maxRetries)

  private def rewriteFileBucket(filePath: String, newChunks: Option[DataFrame],
                                maxRetries: Int): Long = {
    val b = bucketOf(filePath)
    val base = latestVersion().getOrElse {
      create(); 0L
    }
    // rewrite the bucket once (against the base snapshot)...
    val entriesAtBase = readManifest(base)
    def bucketState(es: Seq[ManifestEntry]) =
      es.filter(_.bucket == b).map(_.path).toSet
    val kept = snapshotDF(entriesAtBase.filter(_.bucket == b))
      .filter(col("filePath") =!= filePath)
    val bucketRows = newChunks.fold(kept)(nc =>
      kept.unionByName(nc.select(ChunkSchema.schema.fieldNames.map(col): _*)))
    val newFiles = writeDataFiles(b, bucketRows)
    // ...then CAS-commit, rebasing the untouched-bucket references on
    // every retry. Same-bucket concurrent commits invalidate our rewrite
    // (it was computed against a stale bucket state) — redo those fully.
    var attempt = 0
    while (attempt < maxRetries) {
      val cur = latestVersion().getOrElse(0L)
      val curEntries = readManifest(cur)
      if (cur != base && bucketState(curEntries) != bucketState(entriesAtBase)) {
        // Bucket conflict: our rewrite was computed against a stale bucket
        // state. Drop its (now superseded, never-referenced) data files and
        // redo with the REMAINING retry budget — passing the full budget back
        // made sustained same-bucket contention an unbounded livelock.
        val f = fs
        newFiles.foreach(e => f.delete(new HPath(s"$root/${e.path}"), false))
        return rewriteFileBucket(filePath, newChunks, maxRetries - attempt - 1)
      }
      val next = curEntries.filterNot(_.bucket == b) ++ newFiles
      if (tryCommit(cur + 1, next)) return cur + 1
      attempt += 1
    }
    throw new java.io.IOException(
      s"rewrite of $filePath lost $maxRetries CAS races")
  }

  /** table history from the manifests alone — (version, file count, row
    * count, referenced bytes-on-manifest rows) without touching data files;
    * the observability query every lakehouse exposes (DESCRIBE HISTORY) */
  def history(): Seq[(Long, Int, Long)] =
    versions().map { v =>
      val es = readManifest(v)
      (v, es.size, es.map(_.nRows).sum)
    }

  /** file-level diff between two snapshots: (added, removed) manifest
    * entries — the cheap first question an incremental consumer asks
    * ("what files changed since v?"); pure manifest arithmetic, no data
    * read. With bucket-granular copy-on-write an added file can carry
    * rows that merely moved files — [[changes]] answers at row level. */
  def diff(vFrom: Long, vTo: Long): (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    val from = readManifest(vFrom).map(e => e.path -> e).toMap
    val to = readManifest(vTo).map(e => e.path -> e).toMap
    ((to.keySet -- from.keySet).toSeq.sorted.map(to),
      (from.keySet -- to.keySet).toSeq.sorted.map(from))
  }

  /** Row-level change data feed between two snapshots — Delta-style CDF
    * (public: the Delta Lake paper's change-feed pattern) derived FROM the
    * snapshots rather than logged at write time: chunk identity is
    * (id, contentHash), so
    *   insert  = id in vTo only
    *   update  = id in both, contentHash changed (post-image emitted)
    *   delete  = id in vFrom only.
    * The two snapshot reads prune to the DIFF's files ([[diff]]): rows in
    * carried-over files can't have changed (files are immutable), so at
    * 100 TB the feed costs the churned buckets, not the table. Returns
    * vTo-schema rows plus `_change_type`. */
  def changes(vFrom: Long, vTo: Long): DataFrame = {
    val (added, removed) = diff(vFrom, vTo)
    val before = snapshotDF(removed)
    val after = snapshotDF(added)
    val beforeKeys = before.select(col("id"), col("contentHash").as("_old_hash"))
    val afterKeys = after.select(col("id").as("_new_id"))
    val inserts = after.join(beforeKeys.select("id"), Seq("id"), "left_anti")
      .withColumn("_change_type", lit("insert"))
    // null-SAFE inequality: contentHash is nullable in the schema, and a
    // null-on-either-side row under =!= would be neither insert, update,
    // nor delete — silently absent from the feed (and so never refreshed
    // by MaterializedView). <=> treats null=null as equal, null vs value
    // as changed — exactly the update semantics wanted here.
    val updates = after.join(beforeKeys, Seq("id"))
      .filter(!(col("contentHash") <=> col("_old_hash")))
      .drop("_old_hash")
      .withColumn("_change_type", lit("update_postimage"))
    val deletes = before.join(afterKeys,
        col("id") === col("_new_id"), "left_anti")
      .withColumn("_change_type", lit("delete"))
    inserts.unionByName(updates).unionByName(deletes)
  }

  /** FSCK for the snapshot log: verify the LATEST manifest's references
    * against the filesystem — every referenced data file must exist, and
    * its parquet row count must equal the manifest's stats row (the stats
    * data-skipping trusts). Returns the list of problems (empty = clean).
    * The check reads file FOOTERS via one column-pruned count per table,
    * not data pages — at 100 TB this is a metadata sweep, not a scan.
    * The complement of vacuum: vacuum proves nothing referenced is
    * deleted, scrub proves nothing deleted is referenced. */
  def scrub(): Seq[String] = {
    val v = latestVersion().getOrElse(return Seq.empty)
    val entries = readManifest(v)
    if (entries.isEmpty) return Seq.empty
    val f = fs
    val (present, missing) = entries.partition(e =>
      f.exists(new HPath(resolvePath(e.path))))
    val missingMsgs = missing.map(e => s"missing data file: ${e.path}")
    val countMsgs =
      if (present.isEmpty) Seq.empty
      else {
        // one distributed metadata job for ALL files (parquet footer counts),
        // not a driver loop of per-file jobs
        val counts = spark.read.schema(ChunkSchema.schema)
          .parquet(present.map(e => resolvePath(e.path)): _*)
          .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("n"))
          .collect().map(r => r.getString(0).split('/').last -> r.getLong(1)).toMap
        present.flatMap { e =>
          val name = e.path.split('/').last
          val actual = counts.getOrElse(name, 0L)
          if (actual != e.nRows)
            Some(s"row-count drift: ${e.path} manifest=${e.nRows} actual=$actual")
          else None
        }
      }
    missingMsgs ++ countMsgs
  }

  /** Zero-copy SHALLOW CLONE of a snapshot into a new table root (the
    * lakehouse branch-for-experimentation verb): the clone's v0 manifest
    * references the SOURCE's data files by absolute path — nothing is
    * copied, so cloning a 100 TB table is one tiny manifest write. Writes
    * to the clone add files under the CLONE's root (copy-on-write keeps
    * sources immutable), so source and clone diverge independently from
    * the shared base. The source must not vacuum away files the clone's
    * manifests still reference within the clone's lifetime — the same
    * retention contract readers already rely on, extended to clones (a
    * production catalog would track cross-table references; here the
    * caller owns that retention policy, and the spec pins the semantics).
    * Returns the clone. */
  def cloneTo(destRoot: String, version: Option[Long] = None): VersionedStore = {
    val v = version.orElse(latestVersion()).getOrElse(
      throw new IllegalStateException("cannot clone an uninitialized table"))
    val entries = readManifest(v).map { e =>
      // rewrite relative source paths to absolute so the clone resolves
      // them outside its own root; already-absolute entries pass through
      e.copy(path = resolvePath(e.path))
    }
    val dest = new VersionedStore(spark, destRoot, numBuckets)
    require(dest.latestVersion().isEmpty, s"clone destination $destRoot is not empty")
    require(dest.tryCommit(0L, entries), "concurrent writer at clone destination")
    dest
  }

  /** Compact fragmented buckets: every bucket holding more than
    * `maxFilesPerBucket` files is rewritten as ONE file sorted by
    * (filePath, chunkIndex) — rows are unchanged, so any oracle over the
    * table is unaffected. This is the lakehouse OPTIMIZE step the
    * copy-on-write upsert makes necessary: each single-file upsert adds a
    * small file to its bucket, and at 100 TB an uncompacted table decays
    * into millions of KB-files whose open/seek overhead dominates scans.
    * Sorting the rewrite also TIGHTENS the manifest's [minPath, maxPath]
    * stats (a compacted bucket prunes to exactly one file per point read).
    *
    * Concurrency: compaction is a no-data-change commit, so it must LOSE
    * every race — a concurrent upsert to a bucket we compacted supersedes
    * our rewrite (that bucket is dropped from the commit and its staged
    * file deleted); untouched-bucket upserts commute and are rebased over,
    * same as [[upsertFile]]. Returns the committed version, or None when
    * nothing was fragmented or every rewrite was superseded. */
  def compact(maxFilesPerBucket: Int = 4, maxRetries: Int = 20): Option[Long] = {
    val base = latestVersion().getOrElse { return None }
    val entriesAtBase = readManifest(base)
    val frag = entriesAtBase.groupBy(_.bucket)
      .filter(_._2.size > maxFilesPerBucket)
    if (frag.isEmpty) return None
    val rewritten: Map[Long, Seq[ManifestEntry]] = frag.map { case (b, es) =>
      b -> writeDataFiles(b, snapshotDF(es)
        .repartition(1)
        .sortWithinPartitions(col("filePath"), col("chunkIndex")))
    }
    def dropFiles(es: Iterable[ManifestEntry]): Unit = {
      val f = fs
      es.foreach(e => f.delete(new HPath(s"$root/${e.path}"), false))
    }
    var attempt = 0
    while (attempt < maxRetries) {
      val cur = latestVersion().getOrElse(0L)
      val curEntries = readManifest(cur)
      def stateOf(es: Seq[ManifestEntry], b: Long) =
        es.filter(_.bucket == b).map(_.path).toSet
      // a bucket whose files changed since base was upserted concurrently:
      // the upsert's data wins, our rewrite of it is garbage
      val (valid, superseded) = rewritten.partition { case (b, _) =>
        stateOf(curEntries, b) == stateOf(entriesAtBase, b)
      }
      if (valid.isEmpty) { dropFiles(rewritten.values.flatten); return None }
      val next = curEntries.filterNot(e => valid.contains(e.bucket)) ++
        valid.values.flatten
      if (tryCommit(cur + 1, next.toSeq)) {
        dropFiles(superseded.values.flatten)
        return Some(cur + 1)
      }
      attempt += 1
    }
    dropFiles(rewritten.values.flatten)
    throw new java.io.IOException(s"compaction lost $maxRetries CAS races")
  }

  /** drop manifests older than the newest `keepVersions` and delete data
    * files no kept manifest references.
    *
    * `retentionMs` age-gates DATA-file deletion (Delta-style retention; the
    * reference uses a 60 s cleanup threshold for its backup dirs,
    * `src/server/index.ts:645-701`): an in-flight `upsertFile` stages its new
    * files into `data/` BEFORE the manifest commit, so an un-gated vacuum
    * racing that window would delete files the next commit references.
    * Files younger than the cutoff are always kept. */
  def vacuum(keepVersions: Int = 2, retentionMs: Long = 60000L): Unit =
    log.vacuum(keepVersions, retentionMs)
}
