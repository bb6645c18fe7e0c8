package graft.store

import java.util.{ConcurrentModificationException, UUID}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ChunkSchema

/** Parquet-backed chunk table with the reference's store operations
  * (`src/vectordb/index.ts`): insert, delete-by-filePath, upsert, neighbor
  * range reads, and the per-file questions — listing, status counts, the
  * sync manifest — answered from a per-file catalog. The reference keeps
  * its chunks in one versioned table (LanceDB manifests, SURVEY §7 "what's
  * hard" #2); this is that table on [[StoreLog]], in the Delta Lake layout
  * (VLDB 2020):
  *
  *  - Rows live in [[Buckets]] buckets, bucket = hash60(filePath) mod
  *    [[Buckets]]. A version's manifest lists, per non-empty bucket, its
  *    `chunks` entries (parquet directories of the bucket's rows: one,
  *    plus one per insert since the bucket was last rewritten) and one
  *    `files` entry (its catalog slice), each with its row count and
  *    filePath range. `status` is the sum of the entries' counts.
  *  - The catalog is small metadata, so it stays out of Spark (the split
  *    Krypton, VLDB 2023, makes): a slice is one JSON-lines file, one row
  *    per filePath with contentHash, chunkCount and lastModified, read and
  *    written on the driver through the Hadoop `FileSystem`, as the
  *    manifests are. A mutation merges each touched bucket's new slice in
  *    Scala from the base slice and its own entries; its one Spark job is
  *    the chunk rewrite.
  *  - A mutation rewrites only the buckets it touches, chunks and catalog
  *    slice, and carries every other entry by reference. Its commit is
  *    the log's compare-and-swap: a writer that lost the race to a commit
  *    touching none of its buckets rebases as pure manifest arithmetic;
  *    one that overlaps reruns against the winner, within a bounded
  *    budget. A crash before the commit leaves the previous version
  *    current; a reader reads the version it resolved, whatever commits
  *    meanwhile (the reference's delete → insert → backup/rollback dance,
  *    `src/server/index.ts:645-701`, made atomic).
  *  - The zero-chunk fail-fast BEFORE any write (`:635-642`) is a hard
  *    invariant.
  *  - A chunk entry's count and range are observed metrics of the write
  *    that made it; a slice's come from its rows. A file's `contentHash`
  *    is null when its chunks carry a null hash or more than one hash;
  *    sync treats such a file as dirty either way.
  *  - Reads: a pruned read ([[readFiles]], neighbors) opens only the
  *    entries whose bucket and range can hold its files; `listFiles`,
  *    `manifest` and `status` run no Spark job (each slice file is read
  *    once); [[files]] scans the slices for the distributed sync route;
  *    every commit keeps the last [[KeepVersions]] versions readable, and
  *    [[changes]] derives a row-level feed from two of them by their
  *    differing entries.
  *
  * A version in an earlier layout (`chunks`/`files` directories under
  * `tables`, or parquet catalog slices) is refused with an error naming
  * the root; such a store is built again under a new root ([[Layout]]
  * names this one).
  */
final class ChunkStore(spark: SparkSession, path: String) {
  import ChunkStore._

  private val log = new StoreLog(spark, path)

  /** `m`, refused unless it is in this layout */
  private def checked(m: Manifest): Manifest = {
    if (m.tables.nonEmpty || of(m, Files).exists(!_.path.endsWith(SliceSuffix)))
      throw new IllegalStateException(s"chunk store $path: version ${m.version} is in an " +
        s"earlier layout (table directories or parquet catalog slices, not $Layout); " +
        "build the store again under a new root")
    m
  }

  private def latest(): Manifest = checked(log.latest())

  private def at(version: Long): Manifest = checked(log.manifest(version))

  def exists: Boolean = !latest().isEmpty

  /** the versions the log keeps, ascending */
  def versions(): Seq[Long] = log.versions()

  def latestVersion(): Option[Long] = log.latestVersion()

  def read(): DataFrame = read(latest())

  /** the table as version `version` committed it (time travel, within the
    * versions the log keeps) */
  def read(version: Long): DataFrame = read(at(version))

  private[store] def read(m: Manifest): DataFrame = read(m, AllBuckets)

  /** `m`'s rows of `buckets`, read from their chunk entries */
  private[store] def read(m: Manifest, buckets: Set[Long]): DataFrame =
    scan(of(m, Chunks).filter(e => buckets(e.bucket)).map(_.path))

  /** The latest version, and per bucket the chunk entries its rows are
    * read from (qualified paths). Entries are immutable directories, so
    * equal entries are equal rows: an index built over this table follows
    * them. */
  private[store] def sources(): (Manifest, Map[Long, Seq[ManifestEntry]]) = {
    val m = latest()
    val fs = log.fs
    val es = of(m, Chunks).map(e => e.copy(path = fs.makeQualified(new HPath(log.abs(e.path))).toString))
    (m, AllBuckets.toSeq.map(b => b -> es.filter(_.bucket == b)).toMap)
  }

  /** the rows of `filePaths`, reading only the chunk entries whose bucket
    * and filePath range can hold one of them */
  def readFiles(filePaths: Seq[String]): DataFrame =
    scan(holding(latest(), filePaths).map(_.path)).filter(col("filePath").isInCollection(filePaths))

  /** `m`'s chunk entries whose bucket and range can hold one of `filePaths` */
  private def holding(m: Manifest, filePaths: Seq[String]): Seq[ManifestEntry] = {
    val byBucket = filePaths.groupBy(bucketOf)
    of(m, Chunks).filter(e => byBucket.getOrElse(e.bucket, Nil).exists(p =>
      utf8(e.minPath).compareTo(utf8(p)) <= 0 && utf8(p).compareTo(utf8(e.maxPath)) <= 0))
  }

  private def scan(dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) local(Seq.empty, ChunkSchema.schema)
    else spark.read.schema(ChunkSchema.schema).parquet(dirs.map(log.abs): _*)

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  // ---- writes ----

  /** Writes `rows` (the chunk columns they carry) partitioned by bucket and
    * returns the entries of `buckets` that got rows: each entry's row count
    * and filePath range are observed metrics of the one write. `rows` may
    * carry the bucket column already. */
  private def writeChunks(rows: DataFrame, buckets: Seq[Long]): Seq[ManifestEntry] = {
    val obs = Observation()
    val stats = buckets.flatMap { b =>
      val in = col(B) === b
      Seq(count(when(in, 1)).as(s"n$b"), min(when(in, col("filePath"))).as(s"lo$b"),
        max(when(in, col("filePath"))).as(s"hi$b"))
    }
    val bucketed = (if (rows.columns.contains(B)) rows else rows.withColumn(B, bucketCol))
      .observe(obs, stats.head, stats.tail: _*)
    val dirs = log.writeBuckets(Chunks,
      bucketed.select((ChunkSchema.schema.fieldNames.filter(rows.columns.contains) :+ B).map(col): _*), B)
    val m = obs.get
    def n(b: Long) = m(s"n$b").asInstanceOf[Long]
    buckets.filter(n(_) > 0).map(b => ManifestEntry(Chunks, b, dirs(b),
      m(s"lo$b").asInstanceOf[String], m(s"hi$b").asInstanceOf[String], n(b)))
  }

  /** Writes the catalog slices of `buckets`, each `m`'s slice of the
    * bucket without the files `drop` names, plus `add`'s entries of the
    * bucket (a file's entries merged by [[combine]]), and returns their
    * entries. A non-empty slice is one JSON-lines file written from the
    * driver, sorted by filePath; its entry's count and range come from its
    * rows. An emptied bucket gets no slice. */
  private def writeSlices(m: Manifest, buckets: Set[Long], drop: String => Boolean,
                          add: Seq[FileEntry]): Seq[ManifestEntry] = {
    val id = UUID.randomUUID()
    val fs = log.fs
    buckets.toSeq.sorted.flatMap { b =>
      val rows = (slice(m, b).filterNot(f => drop(f.filePath)) ++ add.filter(f => bucketOf(f.filePath) == b))
        .groupMapReduce(_.filePath)(identity)(combine).values.toSeq.sortBy(f => utf8(f.filePath))
      if (rows.isEmpty) None
      else {
        val rel = s"data/$Files-$id-$b$SliceSuffix"
        val out = fs.create(new HPath(log.abs(rel)), false)
        try rows.foreach(f => out.write(toJson(f))) finally out.close()
        Some(ManifestEntry(Files, b, rel, rows.head.filePath, rows.last.filePath, rows.size.toLong))
      }
    }
  }

  /** Runs `write` against the latest version and commits the entries it
    * wrote in place of its buckets' entries. A commit that lost the race
    * rebases onto the winner when the winner changed none of those
    * buckets, and reruns `write` against it when it did: [[MaxAttempts]]
    * commit attempts in all. `write` returns None when there is nothing
    * to commit. A commit vacuums the log to [[KeepVersions]] versions. */
  private def mutate(write: Manifest => Option[(Set[Long], Seq[ManifestEntry])]): Unit = {
    var attempts = 0
    var base = latest()
    while (attempts < MaxAttempts) write(base) match {
      case None => return
      case Some((buckets, written)) =>
        def mine(m: Manifest) = m.entries.filter(e => buckets(e.bucket)).toSet
        var cur = base
        while (attempts < MaxAttempts && mine(cur) == mine(base)) {
          val next = Manifest(entries = cur.entries.filterNot(e => buckets(e.bucket)) ++ written)
          if (log.tryCommit(cur.version + 1, next)) { log.vacuum(KeepVersions); return }
          attempts += 1
          cur = latest()
        }
        base = cur
    }
    throw new ConcurrentModificationException(s"$path: lost $MaxAttempts commit races")
  }

  /** Append-only insert: one more chunk entry per bucket the rows touch,
    * written with the frame's own columns (a legacy frame without a hash
    * or title reads them as null). When the appended entries could pass
    * [[StoreLog.MaxDirs]] paths per read, every bucket is rewritten as one
    * entry instead. The touched buckets' slices add the catalog entries of
    * the rows written, read back in one aggregate, so the caller's frame is
    * computed once. */
  def insert(chunks: DataFrame): Unit = mutate { base =>
    val compact = of(base, Chunks).size + Buckets > StoreLog.MaxDirs
    val added = writeChunks(
      if (!compact) chunks
      else read(base).coalesce(1).unionByName(chunks, allowMissingColumns = true),
      AllBuckets.toSeq.sorted)
    val buckets = if (compact) AllBuckets else added.map(_.bucket).toSet
    val kept = if (compact) Seq.empty else of(base, Chunks).filter(e => buckets(e.bucket))
    // a compaction's rows are the whole table: its slices replace the base's
    Some((buckets, kept ++ added ++
      writeSlices(base, buckets, _ => compact, entriesOf(scan(added.map(_.path))))))
  }

  def deleteFile(filePath: String): Unit = deleteFiles(Seq(filePath))

  /** delete every row of `paths` (sync's stale-spelling and prune deletes),
    * rewriting only their buckets; a delete no entry can hold commits
    * nothing */
  def deleteFiles(paths: Seq[String]): Unit = {
    val gone = paths.toSet
    mutate { base =>
      val buckets = holding(base, paths).map(_.bucket).toSet
      if (buckets.isEmpty) None
      else Some((buckets,
        writeChunks(read(base, buckets).filter(!col("filePath").isInCollection(paths)).coalesce(1),
          buckets.toSeq.sorted) ++ writeSlices(base, buckets, gone, Nil)))
    }
  }

  /** upsert = replace all chunks of `filePath` with `newChunks`, every one
    * of which must belong to `filePath`, rewriting only its bucket. Fails
    * BEFORE any write if newChunks is empty — the reference's
    * NoChunksError invariant. The file's catalog entry is built on the
    * driver from the new rows' collected keys. */
  def upsertFile(filePath: String, newChunks: DataFrame): Unit = {
    val keys = newChunks.select("filePath", "contentHash", "timestamp").collect()
    if (keys.isEmpty)
      throw new graft.ingest.Ingest.NoChunksError(filePath)
    require(keys.forall(_.getString(0) == filePath),
      s"upsertFile($filePath) got rows of another file")
    val entry = keys.map(r => FileEntry(filePath, r.getString(1), 1L, r.getString(2))).reduce(combine)
    val buckets = Set(bucketOf(filePath))
    mutate { base =>
      Some((buckets, writeChunks(read(base, buckets).filter(col("filePath") =!= filePath)
          .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*)).coalesce(1),
          buckets.toSeq) ++ writeSlices(base, buckets, _ == filePath, Seq(entry))))
    }
  }

  /** Batched upsert — the sync execute path: replace all chunks of every
    * file `newChunks` has rows for AND delete all rows of `deletePaths`, in
    * one commit. The new files' catalog entries come from one aggregate
    * over the rows, collected before the commit loop (a retry does not
    * repeat it); they name the replaced files and, with the deletes, the
    * buckets the commit rewrites. Returns the number of distinct files the
    * rows cover (the batch's `upserted` count). Zero-chunk semantics: a
    * file with no rows in `newChunks` is absent from the replace set, so
    * its existing rows survive; a prune-only batch passes empty rows. A
    * batch that covers no file and deletes nothing commits nothing. */
  def upsertFilesFromRows(newChunks: DataFrame,
                          deletePaths: Seq[String] = Seq.empty): Long = {
    val fresh = entriesOf(newChunks)
    val replaced = fresh.map(_.filePath) ++ deletePaths
    val buckets = replaced.map(bucketOf).toSet
    if (replaced.nonEmpty) mutate { base =>
      // partitioned by bucket id: each bucket is written as one file by its
      // own task
      Some((buckets, writeChunks(read(base, buckets).filter(!col("filePath").isInCollection(replaced))
          .unionByName(newChunks.select(ChunkSchema.schema.fieldNames.map(col): _*))
          .withColumn(B, bucketCol).repartitionById(Buckets, col(B).cast("int")),
          buckets.toSeq.sorted) ++ writeSlices(base, buckets, replaced.toSet, fresh)))
    }
    fresh.size.toLong
  }

  /** neighbor range read (reference `src/vectordb/index.ts:138-164`,
    * handler clamp `src/server/index.ts:1035-1037`): chunks of one file with
    * chunkIndex ∈ [max(0, target-before), target+after], sorted asc
    * (a contract, not incidental order), target flagged. The range is at
    * most 101 rows of one bucket, so it is collected in one Spark job and
    * sorted on the driver; the returned DataFrame is local. */
  def neighbors(filePath: String, target: Int, before: Int = 2, after: Int = 2): DataFrame = {
    require(before >= 0 && before <= 50 && after >= 0 && after <= 50,
      "before/after must be in 0..50") // ref: tool-input.ts:195-204
    val lo = math.max(0, target - before)
    val hi = target + after
    val range = readFiles(Seq(filePath)).filter(col("chunkIndex").between(lo, hi))
      .withColumn("isTarget", col("chunkIndex") === target)
    val rows = range.collect()
    graft.core.DriverProbe.record("neighbors_range", rows.length.toLong, hi - lo + 1L)
    val sorted = rows.sortBy(_.getInt(range.schema.fieldIndex("chunkIndex")))
    spark.createDataFrame(java.util.Arrays.asList(sorted: _*), range.schema)
  }

  // ---- the catalog ----

  /** one slice file's entries */
  private def readSlice(e: ManifestEntry): IndexedSeq[FileEntry] = {
    val in = log.fs.open(new HPath(log.abs(e.path)))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map(parse).toIndexedSeq
    finally in.close()
  }

  /** `m`'s catalog slice of bucket `b`, memoized on its immutable file */
  private def slice(m: Manifest, b: Long): Seq[FileEntry] =
    of(m, Files).filter(_.bucket == b).flatMap(e => StoreLog.memo(s"slice@${log.abs(e.path)}")(readSlice(e)))

  /** `m`'s catalog sorted by filePath, memoized on the slices it is read
    * from */
  private def catalog(m: Manifest): IndexedSeq[FileEntry] =
    StoreLog.memo(s"catalog@${of(m, Files).map(e => log.abs(e.path)).mkString(",")}")(
      AllBuckets.toSeq.flatMap(slice(m, _)).sortBy(f => utf8(f.filePath)).toIndexedSeq)

  /** the latest version's catalog (filePath, contentHash, chunkCount,
    * lastModified) as a Spark scan of its slices — O(files) rows for the
    * distributed sync route, never collected */
  def files(): DataFrame = {
    val slices = of(latest(), Files).map(e => log.abs(e.path))
    if (slices.isEmpty) local(Seq.empty, FilesSchema)
    else spark.read.schema(FilesSchema).json(slices: _*)
  }

  /** per-file listing (reference `listFiles`, `src/vectordb/index.ts:511-556`):
    * (filePath, chunkCount, lastModified) sorted by filePath, as a local
    * DataFrame over the catalog */
  def listFiles(): DataFrame =
    local(catalog(latest()).map(f => Row(f.filePath, f.chunkCount, f.lastModified)), ListSchema)

  /** status counts (reference `src/vectordb/index.ts:585-595`): (chunks,
    * files) summed over the version's entries — no Spark job */
  def status(): (Long, Long) = status(latest())

  private[store] def status(m: Manifest): (Long, Long) =
    (of(m, Chunks).map(_.nRows).sum, of(m, Files).map(_.nRows).sum)

  /** manifest projection for sync (reference `listChunkHashes`,
    * `src/vectordb/index.ts:480-504`): one (filePath, contentHash) row per
    * stored file, as a local DataFrame over the catalog */
  def manifest(): DataFrame =
    local(catalog(latest()).map(f => Row(f.filePath, f.contentHash)), ManifestSchema)

  /** S12 compaction — the reference's `table.optimize()`
    * (`src/vectordb/index.ts:317-324`), called once per batch, not per
    * file: every bucket whose chunk entries hold more than `maxFragments`
    * parquet files (each insert adds an entry, with a file per write task
    * that had rows of the bucket) is rewritten as one file sorted by
    * (filePath, chunkIndex). Rows and the catalog carry over unchanged. */
  def optimize(maxFragments: Int = 4): Unit = mutate { base =>
    val fs = log.fs
    val buckets = of(base, Chunks).groupBy(_.bucket).collect { case (b, es) if es.map(e =>
      fs.listStatus(new HPath(log.abs(e.path))).count(_.getPath.getName.endsWith(".parquet")))
      .sum > maxFragments => b }.toSet
    if (buckets.isEmpty) None
    else Some((buckets, writeChunks(read(base, buckets).withColumn(B, bucketCol)
        .repartitionById(Buckets, col(B).cast("int"))
        .sortWithinPartitions(B, "filePath", "chunkIndex"), buckets.toSeq.sorted) ++
      of(base, Files).filter(e => buckets(e.bucket))))
  }

  // ---- versions ----

  /** (version, chunk entries, chunk rows) of every kept version, from the
    * manifests alone */
  def history(): Seq[(Long, Int, Long)] = versions().map { v =>
    val m = at(v)
    (v, of(m, Chunks).size, status(m)._1)
  }

  /** the chunk entries version `to` reads and `from` does not, and the
    * reverse: manifest arithmetic, no data read */
  def diff(from: Long, to: Long): (Seq[ManifestEntry], Seq[ManifestEntry]) = {
    val (a, b) = (of(at(from), Chunks), of(at(to), Chunks))
    (b.filterNot(a.toSet), a.filterNot(b.toSet))
  }

  /** Row-level change feed between two versions, derived from the rows of
    * the entries [[diff]] names (a carried entry's rows cannot have
    * changed): chunk identity is `id`, so an id only in `to` is an
    * insert, one in both whose contentHash differs null-safely is an
    * update (its post-image is emitted), and one only in `from` is a
    * delete. Returns `to`-schema rows plus `_change_type`. */
  def changes(from: Long, to: Long): DataFrame = {
    val (added, removed) = diff(from, to)
    val before = scan(removed.map(_.path))
    val after = scan(added.map(_.path))
    val beforeKeys = before.select(col("id"), col("contentHash").as("_old_hash"))
    val inserts = after.join(beforeKeys.select("id"), Seq("id"), "left_anti")
      .withColumn("_change_type", lit("insert"))
    // null-SAFE inequality: under =!= a row with a null hash on either side
    // would be neither insert, update nor delete
    val updates = after.join(beforeKeys, Seq("id"))
      .filter(!(col("contentHash") <=> col("_old_hash")))
      .drop("_old_hash")
      .withColumn("_change_type", lit("update_postimage"))
    val deletes = before.join(after.select(col("id")), Seq("id"), "left_anti")
      .withColumn("_change_type", lit("delete"))
    inserts.unionByName(updates).unionByName(deletes)
  }

  /** The latest version's entries checked against the filesystem: each
    * must exist and hold the row count it records for its bucket. Returns
    * the problems (empty = clean), from one column-pruned count of the
    * chunk entries and a read of each slice. */
  def scrub(): Seq[String] = {
    val m = latest()
    val fs = log.fs
    val (present, missing) = m.entries.partition(e => fs.exists(new HPath(log.abs(e.path))))
    val chunks = present.filter(_.table == Chunks)
    // per directory and bucket
    val counts =
      if (chunks.isEmpty) Map.empty[(String, Long), Long]
      else scan(chunks.map(_.path)).groupBy(input_file_name().as("f"), bucketCol.as("b"))
        .agg(count(lit(1))).collect().groupMapReduce(r =>
          (new HPath(r.getString(0)).getParent.getName, r.getLong(1)))(_.getLong(2))(_ + _)
    def actual(e: ManifestEntry): Long =
      if (e.table == Files) readSlice(e).count(f => bucketOf(f.filePath) == e.bucket).toLong
      else counts.getOrElse((new HPath(e.path).getName, e.bucket), 0L)
    missing.map(e => s"missing data file: ${e.path}") ++ present.flatMap { e =>
      val n = actual(e)
      if (n == e.nRows) None else Some(s"row-count drift: ${e.path} manifest=${e.nRows} actual=$n")
    }
  }

  /** Zero-copy shallow clone of the latest version into the empty root
    * `dest`: its first version names this store's files by absolute path,
    * so nothing is copied, and its writes land under `dest`. This store
    * must keep those files while the clone reads them (the same retention
    * contract readers rely on). */
  def cloneTo(dest: String): ChunkStore = {
    val m = latest()
    require(!m.isEmpty, s"$path: nothing to clone")
    val target = new StoreLog(spark, dest)
    require(target.latestVersion().isEmpty, s"clone destination $dest is not empty")
    require(target.tryCommit(0L, Manifest(stats = m.stats,
      entries = m.entries.map(e => e.copy(path = log.abs(e.path))))),
      s"concurrent writer at clone destination $dest")
    new ChunkStore(spark, dest)
  }
}

object ChunkStore {
  /** the bucket count of the layout */
  val Buckets = 4

  /** this layout's name: its bucket count and catalog format. A store kept
    * across runs keys its root on it, so a store built in another layout
    * is never opened. */
  val Layout = s"buckets$Buckets-json"

  private[store] val AllBuckets: Set[Long] = (0L until Buckets).toSet

  /** most commit attempts of one mutation */
  private val MaxAttempts = 20

  /** the versions every commit keeps: time travel and the change feed
    * reach back three commits, and a reader that resolved any of them
    * keeps reading it */
  val KeepVersions = 4

  def bucketOf(filePath: String): Long =
    math.floorMod(graft.ops.Dedup.hash60Scala(filePath), Buckets.toLong)

  private[store] def bucketCol: Column = pmod(graft.ops.Dedup.hash60(col("filePath")), lit(Buckets.toLong))

  /** the partition column of a bucketed write */
  private[store] val B = "b"

  private val Chunks = "chunks"
  private val Files = "files"

  /** the extension of a catalog slice file */
  private val SliceSuffix = ".json"

  private def of(m: Manifest, table: String): Seq[ManifestEntry] = m.entries.filter(_.table == table)

  private def utf8(s: String): UTF8String = UTF8String.fromString(s)

  /** one catalog row: a stored file */
  private final case class FileEntry(filePath: String, contentHash: String, chunkCount: Long,
                                     lastModified: String)

  /** One file's two catalog entries as one: counts add, the later
    * lastModified wins, and a hash survives only when both carry it. Over a
    * file's rows as one-chunk entries this is the catalog's rule: a file
    * keeps a hash only when all its rows carry that same hash. */
  private def combine(a: FileEntry, b: FileEntry): FileEntry =
    FileEntry(a.filePath, if (a.contentHash != null && a.contentHash == b.contentHash) a.contentHash else null,
      a.chunkCount + b.chunkCount, Seq(a.lastModified, b.lastModified).filter(_ != null).maxByOption(utf8).orNull)

  /** The catalog entries of `rows`' files, by [[combine]]'s rule, from one
    * aggregate collected; a frame of legacy columns without a hash or
    * timestamp gives null ones */
  private def entriesOf(rows: DataFrame): Seq[FileEntry] = {
    def opt(c: String) = if (rows.columns.contains(c)) col(c) else lit(null).cast(StringType)
    rows.groupBy("filePath").agg(count(lit(1)), count(opt("contentHash")), min(opt("contentHash")),
        max(opt("contentHash")), max(opt("timestamp")))
      .collect().toSeq.map(r => FileEntry(r.getString(0),
        if (r.getLong(1) == r.getLong(2) && r.getString(3) == r.getString(4)) r.getString(3) else null,
        r.getLong(1), r.getString(5)))
  }

  private def toJson(f: FileEntry): Array[Byte] =
    (Manifest.json.writeValueAsString(Manifest.json.createObjectNode().put("filePath", f.filePath)
      .put("contentHash", f.contentHash).put("chunkCount", f.chunkCount)
      .put("lastModified", f.lastModified)) + "\n").getBytes("UTF-8")

  private def parse(line: String): FileEntry = {
    val n = Manifest.json.readTree(line)
    def str(f: String) = if (n.path(f).isTextual) n.get(f).asText else null
    FileEntry(n.get("filePath").asText, str("contentHash"), n.get("chunkCount").asLong, str("lastModified"))
  }

  /** a slice's rows: one per stored filePath */
  private val FilesSchema: StructType = StructType(Seq(
    StructField("filePath", StringType, nullable = false),
    StructField("contentHash", StringType),
    StructField("chunkCount", LongType, nullable = false),
    StructField("lastModified", StringType)))

  private val ListSchema = StructType(Seq(FilesSchema(0), FilesSchema(2), FilesSchema(3)))
  private val ManifestSchema = StructType(Seq(FilesSchema(0), FilesSchema(1)))
}
