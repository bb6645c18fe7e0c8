package graft.store

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One bucket's rows of a bucketed store's table, with the bucket's row
  * count and filePath range (null when not recorded): a [[ChunkStore]]
  * `chunks` directory or the JSON-lines file of its `files` catalog
  * slice; an [[FtsIndexStore]] `postings`
  * directory, or a `source`: a chunk entry (qualified path) the bucket's
  * postings were built from */
final case class ManifestEntry(table: String, bucket: Long, path: String,
                               minPath: String, maxPath: String, nRows: Long)

/** One committed version of a store: the immutable directories of every
  * table (root-relative), the store's scalar stats, and — for the
  * bucketed [[ChunkStore]] — its bucket entries. An empty manifest is a
  * dropped store (or one never written); `version` is -1 for the empty
  * store that has no commit at all. */
final case class Manifest(tables: Map[String, Seq[String]] = Map.empty,
                          stats: Map[String, Long] = Map.empty,
                          entries: Seq[ManifestEntry] = Seq.empty,
                          version: Long = -1L) {
  def isEmpty: Boolean = tables.isEmpty && entries.isEmpty
  def dirs(table: String): Seq[String] = tables.getOrElse(table, Seq.empty)
  def stat(key: String): Long = stats.getOrElse(key, 0L)
  /** every root-relative path this version needs (an absolute path names
    * another root's files: a clone's source, an index's chunk entries) */
  def referenced: Set[String] =
    (tables.values.flatten ++ entries.map(_.path)).filterNot(new HPath(_).isAbsolute).toSet
}

object Manifest {
  val Empty: Manifest = Manifest()

  /** the JSON codec of manifests and of the chunk store's catalog slices */
  private[store] val json = new ObjectMapper()

  private[store] def toJson(m: Manifest): Array[Byte] = {
    val root = json.createObjectNode()
    val tables = root.putObject("tables")
    m.tables.toSeq.sortBy(_._1).foreach { case (t, ds) =>
      val a = tables.putArray(t); ds.foreach(a.add) }
    val stats = root.putObject("stats")
    m.stats.toSeq.sortBy(_._1).foreach { case (k, v) => stats.put(k, v) }
    val entries = root.putArray("entries")
    m.entries.foreach { e =>
      entries.addObject().put("table", e.table).put("bucket", e.bucket).put("path", e.path)
        .put("min_path", e.minPath).put("max_path", e.maxPath).put("n_rows", e.nRows)
    }
    json.writeValueAsBytes(root)
  }

  private[store] def parse(in: java.io.InputStream, version: Long): Manifest = {
    val n = json.readTree(in)
    def obj(f: String): Seq[(String, JsonNode)] =
      n.path(f).properties().asScala.toSeq.map(e => e.getKey -> e.getValue)
    def str(e: JsonNode, f: String): String =
      if (e.path(f).isTextual) e.get(f).asText else null
    Manifest(
      tables = obj("tables").map { case (t, a) => t -> a.asScala.map(_.asText).toSeq }.toMap,
      stats = obj("stats").map { case (k, v) => k -> v.asLong }.toMap,
      entries = n.path("entries").asScala.toSeq.map(e => ManifestEntry(
        e.get("table").asText, e.get("bucket").asLong, e.get("path").asText,
        str(e, "min_path"), str(e, "max_path"), e.get("n_rows").asLong)),
      version = version)
  }
}

/** The commit protocol every persisted store shares (the Delta Lake design,
  * VLDB 2020): data lives in immutable directories and files under
  * `<root>/data/`, written fresh by each mutation and never rewritten; a
  * version is a small JSON manifest `<root>/_log/v%08d.json` naming what
  * that version reads and carrying the store's scalar stats.
  *
  *  - Commit is one rename-if-absent of a staged manifest FILE onto the
  *    next version number ([[tryCommit]], the only routine that renames a
  *    manifest into place). A Hadoop file rename onto an existing
  *    destination fails, which is the cross-process compare-and-swap; the
  *    local filesystem's rename replaces silently, so the check-and-rename
  *    is also serialized per log within the JVM.
  *  - A crash anywhere before that rename leaves the previous version
  *    current: the new directories are unreferenced debris that
  *    [[vacuum]] removes once older than its retention window.
  *  - A reader resolves one version and reads exactly what it names, so a
  *    concurrent commit never shows it a missing or half-written table.
  *  - Manifests are read and written through the Hadoop `FileSystem`, never
  *    through Spark: resolving a version runs no job. A committed manifest
  *    never changes, so it is parsed once per (root, version); values
  *    derived from an immutable directory are memoized on its path
  *    ([[StoreLog.memo]]).
  */
final class StoreLog(spark: SparkSession, val root: String) {
  import StoreLog._

  private val logDir = s"$root/_log"

  def fs: FileSystem = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private lazy val key = fs.makeQualified(new HPath(root)).toString

  private def manifestPath(v: Long) = new HPath(f"$logDir/v$v%08d.json")

  /** a root-relative path as a readable one (absolute paths pass through:
    * a shallow clone references its source's files) */
  def abs(rel: String): String = if (new HPath(rel).isAbsolute) rel else s"$root/$rel"

  private def list(dir: String): Array[FileStatus] =
    try fs.listStatus(new HPath(dir))
    catch { case _: java.io.FileNotFoundException => Array.empty }

  /** committed versions with their manifest files, ascending */
  private def committed(): Seq[(Long, FileStatus)] =
    list(logDir).toSeq.flatMap(s => s.getPath.getName match {
      case Version(v) => Some(v.toLong -> s)
      case _ => None
    }).sortBy(_._1)

  def versions(): Seq[Long] = committed().map(_._1)

  def latestVersion(): Option[Long] = versions().lastOption

  /** A committed manifest never changes, so it is parsed once per
    * (root, version); the file's mtime and length join the key only so a
    * root deleted and re-created in one JVM cannot hit the old one. */
  private def parsed(v: Long, s: FileStatus): Manifest =
    memo(s"$key@v$v@${s.getModificationTime}:${s.getLen}") {
      val in = fs.open(s.getPath)
      try Manifest.parse(in, v) finally in.close()
    }

  /** the manifest committed as version `v` */
  def manifest(v: Long): Manifest = parsed(v, fs.getFileStatus(manifestPath(v)))

  /** version `v`'s manifest, or the empty store for a negative version */
  def at(v: Long): Manifest = if (v < 0) Manifest.Empty else manifest(v)

  /** the latest committed manifest ([[Manifest.Empty]] before any commit):
    * one listing of the log, the parse memoized */
  def latest(): Manifest = committed().lastOption.fold(Manifest.Empty) { case (v, s) => parsed(v, s) }

  /** Commit `m` as version `v`; false when `v` is already taken. A version
    * the vacuum dropped counts as taken: `v` must be the successor of the
    * latest version, so version `v - 1` must still exist (the vacuum drops
    * versions oldest first), or, for version 0, no version at all. */
  def tryCommit(v: Long, m: Manifest): Boolean = {
    val f = fs
    val tmp = new HPath(s"$logDir/.tmp-${UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try out.write(Manifest.toJson(m)) finally out.close()
    val target = manifestPath(v)
    try locks.computeIfAbsent(key, _ => new Object).synchronized {
      !f.exists(target) && (if (v == 0) committed().isEmpty else f.exists(manifestPath(v - 1))) &&
        f.rename(tmp, target)
    } finally f.delete(tmp, false)
  }

  /** Commit `m` as the version after `after`; a writer that lost the race
    * throws, leaving `after`'s successor in place. Returns `m` as committed. */
  def commit(after: Manifest, m: Manifest): Manifest = {
    val v = after.version + 1
    if (!tryCommit(v, m))
      throw new java.util.ConcurrentModificationException(
        s"$root: version $v was committed by another writer")
    m.copy(version = v)
  }

  /** [[commit]] then [[vacuum]]: the stores' one mutation epilogue */
  def publish(after: Manifest, m: Manifest): Manifest = {
    val c = commit(after, m)
    vacuum()
    c
  }

  /** drop a live store by committing the empty version */
  def drop(): Unit = {
    val m = latest()
    if (!m.isEmpty) publish(m, Manifest.Empty): Unit
  }

  /** a fresh directory for one write of `table`: `df` lands there and the
    * root-relative path is returned for the next manifest */
  def write(table: String, df: DataFrame, partitionBy: Seq[String] = Seq.empty): String = {
    val rel = s"data/$table-${UUID.randomUUID()}"
    val w = if (partitionBy.isEmpty) df.write else df.write.partitionBy(partitionBy: _*)
    w.parquet(abs(rel))
    rel
  }

  /** one write of `table` partitioned by the bucket column `bucket`: each
    * bucket that got rows then has its directory moved up beside the other
    * data directories, and its root-relative path is returned */
  def writeBuckets(table: String, df: DataFrame, bucket: String): Map[Long, String] = {
    val dir = write(table, df, Seq(bucket))
    val f = fs
    val moved = f.listStatus(new HPath(abs(dir))).toSeq.flatMap { s =>
      s.getPath.getName.stripPrefix(s"$bucket=").toLongOption.map { b =>
        if (!f.rename(s.getPath, new HPath(abs(s"$dir-$b"))))
          throw new java.io.IOException(s"$root: could not move bucket $b of $dir")
        b -> s"$dir-$b"
      }
    }
    f.delete(new HPath(abs(dir)), true)
    moved.toMap
  }

  /** `m`'s directories of `table` plus one holding `df`; at [[MaxDirs]]
    * the table is rewritten as one directory instead */
  def append(m: Manifest, table: String, df: DataFrame): Seq[String] = {
    val dirs = m.dirs(table)
    if (dirs.size < MaxDirs) dirs :+ write(table, df)
    else Seq(write(table, this.table(m, table).unionByName(df)))
  }

  /** `table` as `m` names it, its schema inferred once per directory set */
  def table(m: Manifest, table: String): DataFrame = {
    val dirs = m.dirs(table).map(abs)
    require(dirs.nonEmpty, s"$root: version ${m.version} has no table $table")
    val schema = memo(s"schema@${dirs.mkString(",")}")(spark.read.parquet(dirs: _*).schema)
    spark.read.schema(schema).parquet(dirs: _*)
  }

  /** Read ONLY the named partition values' directories of a partitioned
    * table — the probe-side read. A bare `spark.read.parquet(tablePath)`
    * discovers EVERY partition directory before an `isin` filter can prune:
    * with 256 abucket dirs that is a parallel-listing Spark job plus
    * schema-inference footer reads per probe (~0.5–0.7 s at sf0.1 on
    * q_hybrid_ann). One globStatus with a `{v1,v2,…}` alternation resolves
    * the probed values to their directories driver-side, so listing
    * follows the probe, never the index. `basePath` keeps the partition
    * column in the schema, so callers' `isin` filter still applies (and
    * still shows as PartitionFilters — the plan shape PlanSpec pins). The
    * schema is memoized on the table directory, which no commit rewrites,
    * and pins the partition column's type across probes. When nothing
    * probed has a directory the answer is a zero-row frame with the
    * table's schema. Values go into the glob unescaped, so only integral
    * ids are accepted. */
  def prunedPartitionRead(tablePath: String, partCol: String, values: Seq[Any]): DataFrame = {
    require(values.forall {
      case _: Int | _: Long | _: Short | _: Byte => true
      case _ => false
    }, s"partition ids must be integral: ${values.take(5).mkString(", ")}")
    val ids = values.distinct
    val dirs =
      if (ids.isEmpty) Seq.empty // nothing probed: no `{}` pattern to list
      else {
        val valGlob = if (ids.size == 1) ids.head.toString else ids.mkString("{", ",", "}")
        Option(fs.globStatus(new HPath(s"$tablePath/$partCol=$valGlob")))
          .toSeq.flatten.map(_.getPath.toString)
      }
    val schema = memo(s"schema@$tablePath") {
      if (dirs.isEmpty) spark.read.parquet(tablePath).schema
      else spark.read.option("basePath", tablePath).parquet(dirs: _*).schema
    }: StructType
    if (dirs.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).option("basePath", tablePath).parquet(dirs: _*)
  }

  /** Drop manifests older than the newest `keepVersions`, then delete
    * every entry of `data/` (and every staged manifest) that no kept
    * version references. `retentionMs` age-gates the deletes: a writer
    * stages its directories before its commit, and a reader that resolved
    * a just-dropped version is still reading, so nothing younger than the
    * cutoff goes (the reference's 60 s cleanup threshold,
    * `src/vectordb/types.ts:15-16`). */
  def vacuum(keepVersions: Int = 2, retentionMs: Long = 60000L): Unit = {
    val f = fs
    val vs = versions()
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - keepVersions))
    drop.foreach(v => f.delete(manifestPath(v), false))
    val referenced = keep.flatMap(v => manifest(v).referenced).toSet
    val cutoff = System.currentTimeMillis() - math.max(0L, retentionMs)
    val staged = list(logDir).filter(_.getPath.getName.startsWith(".tmp-"))
    (list(s"$root/data") ++ staged).foreach { s =>
      if (!referenced.contains(s"data/${s.getPath.getName}") &&
          s.getModificationTime < cutoff)
        f.delete(s.getPath, true)
    }
  }
}

object StoreLog {
  /** most root paths one read passes to `spark.read`: past
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (default 32)
    * Spark lists them with a distributed job */
  val MaxDirs = 32

  private val Version = """v(\d{8,})\.json""".r

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** LRU bound of [[memo]]: values can be k×dim centroid tables */
  private val MemoEntries = 256

  private val memos = new java.util.LinkedHashMap[String, AnyRef](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, AnyRef]): Boolean =
      size > MemoEntries
  }

  /** `compute`, once per `key` while the entry stays in the LRU. Keys name
    * immutable things — a committed version, an immutable directory — so
    * a hit is exactly as fresh as recomputing, on any filesystem. Values
    * are shared across hits: return immutable values or copy on read. */
  private[store] def memo[T <: AnyRef](key: String)(compute: => T): T =
    memos.synchronized(Option(memos.get(key))) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = compute
        memos.synchronized(memos.put(key, v))
        v
    }
}
