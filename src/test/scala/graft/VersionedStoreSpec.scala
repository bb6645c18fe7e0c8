package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkSchema.{ChunkMetadata, ChunkRow}
import graft.core.GraftSession
import graft.embed.HashedEmbedder
import graft.store.{ChunkStore, ManifestEntry, StoreLog}

/** The versioned-table behaviours of the chunk table, pinned on
  * [[ChunkStore]]'s bucket layout: time travel, bucket-disjoint CAS and
  * rebase, bounded same-bucket retry, vacuum retention, compaction,
  * history, the change feed, scrub, shallow clone, the pruned one-file
  * read, ghost deletes and the materialized view over the store. (The
  * suite keeps the name of the class these behaviours were first written
  * for, so its test ids stay stable.) */
class VersionedStoreSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import spark.implicits._
  private lazy val embedder = new HashedEmbedder(8)

  private def mkChunk(file: String, idx: Int, text: String): ChunkRow =
    ChunkRow(s"$file-$idx", file, idx, text, embedder.embed(text),
      ChunkMetadata(file.split('/').last, text.length.toLong, "md"),
      Some("t"), Some("h"), "2026-01-01T00:00:00Z")

  private def tmpRoot(name: String = "vstore"): String =
    Files.createTempDirectory(name).toString + "/table"

  private def tmpStore(): ChunkStore = new ChunkStore(spark, tmpRoot())

  private def candidates(prefix: String): Iterator[String] =
    Iterator.from(0).map(i => s"$prefix$i.md")

  /** `n` file names that share one bucket */
  private def sameBucket(prefix: String, n: Int): Seq[String] =
    candidates(prefix).scanLeft(Map.empty[Long, Seq[String]]) { (m, f) =>
      val b = ChunkStore.bucketOf(f); m.updated(b, m.getOrElse(b, Seq.empty) :+ f)
    }.flatMap(_.values.find(_.size == n)).next()

  /** `n` file names in `n` different buckets */
  private def distinctBuckets(prefix: String, n: Int): Seq[String] =
    candidates(prefix).distinctBy(ChunkStore.bucketOf).take(n).toSeq

  /** the latest chunk entries whose bucket and range can hold `p` */
  private def entriesFor(root: String, p: String): Seq[ManifestEntry] =
    new StoreLog(spark, root).latest().entries.filter(e => e.table == "chunks" &&
      e.bucket == ChunkStore.bucketOf(p) && e.minPath <= p && p <= e.maxPath)

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    assert(f.delete(), s"could not delete $f")
  }

  test("commits advance versions; reads resolve the latest snapshot") {
    val st = tmpStore()
    assert(st.latestVersion() === None)
    assert(st.read().count() === 0)

    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "one")).toDF())
    assert(st.latestVersion() === Some(0L))
    st.upsertFile("/a/y.md", Seq(mkChunk("/a/y.md", 0, "two"),
      mkChunk("/a/y.md", 1, "three")).toDF())
    assert(st.latestVersion() === Some(1L))
    assert(st.read().count() === 3)
    assert(st.read().select("filePath").distinct().count() === 2)
  }

  test("time travel: every historical snapshot stays readable and unchanged") {
    val st = tmpStore()
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "v1 text")).toDF())
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "v2 text"),
      mkChunk("/a/x.md", 1, "v2 extra")).toDF())

    assert(st.read(0L).select("text").as[String].collect().toSet ===
      Set("v1 text"))
    assert(st.read(1L).select("text").as[String].collect().toSet ===
      Set("v2 text", "v2 extra"))
    // a reader holding the first version's DataFrame is unaffected by later commits
    val v1df = st.read(0L)
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "v3 text")).toDF())
    assert(v1df.select("text").as[String].collect().toSet === Set("v1 text"))
  }

  test("upsert replaces only the target file; other buckets carried by reference") {
    val root = tmpRoot()
    val st = new ChunkStore(spark, root)
    val log = new StoreLog(spark, root)
    val files = distinctBuckets("/corpus/doc", ChunkStore.Buckets)
    files.foreach(f => st.upsertFile(f, Seq(mkChunk(f, 0, s"text $f")).toDF()))
    val before = st.read().filter(col("filePath") =!= files.head)
      .orderBy("id").collect()
    val b = ChunkStore.bucketOf(files.head)
    def carried(m: graft.store.Manifest) = m.entries.filter(_.bucket != b).toSet
    val m0 = log.latest()

    st.upsertFile(files.head, Seq(mkChunk(files.head, 0, "updated")).toDF())
    val after = st.read().filter(col("filePath") =!= files.head)
      .orderBy("id").collect()
    assert(after === before)
    assert(st.read().filter(col("filePath") === files.head)
      .select("text").as[String].collect().toSeq === Seq("updated"))
    // the one bucket's chunk entry and catalog slice are new, every other
    // entry is the same path
    val m1 = log.latest()
    assert(carried(m1) === carried(m0) && carried(m0).size === 2 * (ChunkStore.Buckets - 1))
    val mine = m1.entries.filter(_.bucket == b)
    assert(mine.map(_.table).sorted === Seq("chunks", "files"))
    assert((mine.map(_.path).toSet & m0.entries.map(_.path).toSet).isEmpty)

    // a one-file delete rewrites only its bucket too
    st.deleteFile(files(1))
    val m2 = log.latest()
    val b1 = ChunkStore.bucketOf(files(1))
    assert(m2.entries.filter(_.bucket != b1).toSet === m1.entries.filter(_.bucket != b1).toSet)
    assert(m2.entries.forall(_.bucket != b1), "the emptied bucket has no entry")
  }

  test("zero-chunk upsert fails before any commit") {
    val st = tmpStore()
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "keep me")).toDF())
    val v = st.latestVersion()
    intercept[graft.ingest.Ingest.NoChunksError] {
      st.upsertFile("/a/x.md", Seq.empty[ChunkRow].toDF())
    }
    assert(st.latestVersion() === v)
    assert(st.read().count() === 1)
  }

  test("concurrent writers to disjoint buckets all commit (CAS + rebase)") {
    val st = tmpStore()
    // run 8 upserts of distinct files concurrently, two per bucket: a
    // writer that lost to a commit in another bucket rebases, one that
    // lost to its bucket's other writer reruns; no writer's data is lost
    val n = 2 * ChunkStore.Buckets
    val files = distinctBuckets("/corpus/par", ChunkStore.Buckets) ++
      distinctBuckets("/corpus/qar", ChunkStore.Buckets)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = files.map(f => Future {
      st.upsertFile(f, Seq(mkChunk(f, 0, s"text of $f")).toDF())
    })
    Await.result(Future.sequence(futures), 120.seconds)
    assert(st.latestVersion() === Some(n - 1L)) // one version per successful commit
    assert(st.read().select("filePath").as[String].collect().toSet ===
      files.toSet)
    assert(st.status() === ((n.toLong, n.toLong)))
  }

  test("vacuum keeps recent snapshots intact and drops unreferenced files") {
    val root = tmpRoot()
    val st = new ChunkStore(spark, root)
    val log = new StoreLog(spark, root)
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen1")).toDF())
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen2")).toDF())
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen3")).toDF())
    log.vacuum(keepVersions = 2, retentionMs = 0L)
    assert(st.versions() === Seq(1L, 2L))
    // kept snapshots still fully readable
    assert(st.read(1L).select("text").as[String].collect().toSet === Set("gen2"))
    assert(st.read().select("text").as[String].collect().toSet === Set("gen3"))
    // vacuumed version is gone
    intercept[Exception] { st.read(0L).collect() }
  }

  test("vacuum retention never deletes young data files (in-flight writer safety)") {
    val root = tmpRoot()
    val st = new ChunkStore(spark, root)
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen1")).toDF())
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen2")).toDF())
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen3")).toDF())
    val filesBefore = new java.io.File(s"$root/data").list().toSet
    // all data files were written seconds ago: with the default retention
    // window they survive vacuum even when unreferenced, so a concurrent
    // upsert's staged-but-not-yet-committed files can never be swept
    new StoreLog(spark, root).vacuum(keepVersions = 1)
    assert(st.versions() === Seq(2L))
    assert(st.read().select("text").as[String].collect().toSet === Set("gen3"))
    assert(new java.io.File(s"$root/data").list().toSet === filesBefore)
  }

  test("same-bucket contention is bounded: retry budget shrinks across rebases") {
    val st = tmpStore()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val files = sameBucket("/hot/f", 4) // every file collides in one bucket
    val futures = files.map(f => Future {
      st.upsertFile(f, Seq(mkChunk(f, 0, s"text of $f")).toDF())
    })
    Await.result(Future.sequence(futures), 180.seconds)
    // all four land despite sharing the single bucket (serialized by redo)
    assert(st.read().select("filePath").as[String].collect().toSet === files.toSet)
    assert(st.status() === ((4L, 4L)))
  }

  test("a reader's resolved snapshot survives vacuum of its version (retention)") {
    val root = tmpRoot()
    val st = new ChunkStore(spark, root)
    val log = new StoreLog(spark, root)
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen1")).toDF())
    // reader resolves v0 BEFORE the version is vacuumed away: the read
    // pins the concrete data paths at resolve time
    val v1df = st.read(0L)
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen2")).toDF())
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "gen3")).toDF())
    log.vacuum(keepVersions = 1) // default retention window (60 s)
    assert(st.versions() === Seq(2L))
    // new readers can no longer resolve v0 (its manifest is gone)...
    intercept[Exception] { st.read(0L).collect() }
    // ...but the in-flight reader still collects: v0's data files are
    // younger than the retention cutoff, so vacuum kept them even though
    // no surviving manifest references them — the retention window is what
    // makes "readers never lock" safe against a concurrent vacuum
    assert(v1df.select("text").as[String].collect().toSet === Set("gen1"))
    // an aged-out sweep (retentionMs = 0) finally drops the orphaned files
    log.vacuum(keepVersions = 1, retentionMs = 0L)
    assert(st.read().select("text").as[String].collect().toSet === Set("gen3"))
  }

  test("vacuum racing concurrent upserts never loses committed rows") {
    val root = tmpRoot()
    val st = new ChunkStore(spark, root)
    val log = new StoreLog(spark, root)
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val files = (0 until 6).map(i => s"/race/f$i.md")
    val writers = files.map(f => Future {
      st.upsertFile(f, Seq(mkChunk(f, 0, s"text of $f")).toDF())
    })
    // vacuum loops with a deep-enough kept window that a writer's
    // just-resolved latest manifest cannot age out mid-upsert; the
    // retention window protects the writers' staged-but-uncommitted files
    val vac = Future {
      (1 to 8).foreach { _ => log.vacuum(keepVersions = 3); blocking(Thread.sleep(25)) }
    }
    Await.result(Future.sequence(writers :+ vac.map(_ => ())), 180.seconds)
    log.vacuum(keepVersions = 1)
    assert(st.read().select("filePath").as[String].collect().toSet === files.toSet)
    assert(st.read().count() === files.size.toLong)
  }

  test("compaction: fragmented bucket collapses to one sorted file, rows and history intact") {
    val root = tmpRoot()
    val st = new ChunkStore(spark, root)
    val all = sameBucket("/c/doc", 7) // every row lands in the same bucket
    val (files, spread) = (all.init, all.last)
    files.foreach(f => st.upsertFile(f,
      Seq(mkChunk(f, 0, s"text of $f"), mkChunk(f, 1, s"more of $f")).toDF()))
    // the fragmentation is explicit: an insert appends an entry in its
    // frame's partitioning, and six rows dealt round-robin from one
    // partition into six add six files to the bucket beside the one it held
    st.insert((0 until 6).map(i => mkChunk(spread, i, s"piece $i of $spread"))
      .toDF().coalesce(1).repartition(6))
    val vBefore = st.latestVersion().get
    val before = st.read().orderBy("id").collect()
    val nFilesBefore = st.read().inputFiles.length
    assert(nFilesBefore > 4, s"fixture not fragmented: $nFilesBefore files")

    st.optimize(maxFragments = 4)
    assert(st.latestVersion() === Some(vBefore + 1))
    // rows unchanged, file count collapsed to one
    assert(st.read().orderBy("id").collect() === before)
    assert(st.read().inputFiles.length === 1)
    // a point read now opens exactly one file
    assert(st.readFiles(Seq(files(3))).inputFiles.length === 1)
    assert(st.readFiles(Seq(files(3))).count() === 2L)
    // history is untouched (compaction adds a version, rewrites nothing old)
    assert(st.read(vBefore).orderBy("id").collect() === before)
    // an already-compact table is a no-op, not a new version
    st.optimize(maxFragments = 4)
    assert(st.latestVersion() === Some(vBefore + 1))
    // post-compaction upserts still work against the compacted layout
    st.upsertFile(files.head, Seq(mkChunk(files.head, 0, "recompacted")).toDF())
    assert(st.read().filter(col("filePath") === files.head)
      .select("text").as[String].collect().toSeq === Seq("recompacted"))
  }

  test("history reports per-version file/row counts from manifests alone") {
    val st = tmpStore()
    val Seq(a, b) = sameBucket("/h/f", 2)
    st.upsertFile(a, Seq(mkChunk(a, 0, "one")).toDF())
    st.upsertFile(b, Seq(mkChunk(b, 0, "two"), mkChunk(b, 1, "three")).toDF())
    val h = st.history()
    assert(h.map(_._1) === Seq(0L, 1L))
    assert(h.map(_._3) === Seq(1L, 3L)) // cumulative row counts per snapshot
    st.optimize(maxFragments = 0)
    val h2 = st.history()
    assert(h2.last._1 === 2L && h2.last._2 === 1 && h2.last._3 === 3L)
  }

  test("change data feed: insert/update/delete derived from snapshot diff") {
    val st = tmpStore()
    // contentHash must track content for CDF identity (mkChunk's constant
    // hash would make every rewrite look unchanged — correctly so, since
    // contentHash IS this store's content identity)
    def ck(file: String, idx: Int, text: String): ChunkRow =
      mkChunk(file, idx, text).copy(contentHash = Some(s"h-${text.hashCode}"))
    st.upsertFile("/c/a.md", Seq(ck("/c/a.md", 0, "alpha v1"),
      ck("/c/a.md", 1, "beta v1")).toDF()) // v0
    st.upsertFile("/c/b.md", Seq(ck("/c/b.md", 0, "gamma")).toDF()) // v1
    // v2: /c/a.md rewritten — chunk 0 changed, chunk 1 identical, chunk 2 new
    st.upsertFile("/c/a.md", Seq(ck("/c/a.md", 0, "alpha v2"),
      ck("/c/a.md", 1, "beta v1"),
      ck("/c/a.md", 2, "delta new")).toDF())

    // file diff: only the churned bucket's entries move
    val (added, removed) = st.diff(1L, 2L)
    assert(added.nonEmpty && removed.nonEmpty)
    assert((added ++ removed).forall(_.bucket === ChunkStore.bucketOf("/c/a.md")))

    val ch = st.changes(1L, 2L)
      .select("id", "_change_type").as[(String, String)].collect().toMap
    // carried-over identical rows (beta, gamma) are NOT in the feed
    assert(ch === Map(
      "/c/a.md-0" -> "update_postimage",
      "/c/a.md-2" -> "insert"))
    // a delete shows up as delete
    st.upsertFile("/c/a.md", Seq(ck("/c/a.md", 0, "alpha v2")).toDF()) // v3
    val ch2 = st.changes(2L, 3L)
      .select("id", "_change_type").as[(String, String)].collect().toMap
    assert(ch2 === Map(
      "/c/a.md-1" -> "delete",
      "/c/a.md-2" -> "delete"))
    // full-span feed composes: v0 → v3 sees b.md's insert and a.md's net state
    val span = st.changes(0L, 3L)
      .select("id", "_change_type").as[(String, String)].collect().toMap
    assert(span("/c/b.md-0") === "insert")
    assert(span("/c/a.md-0") === "update_postimage")
    assert(span("/c/a.md-1") === "delete")
  }

  test("scrub: clean table passes; a deleted data file is named precisely") {
    val root = tmpRoot("vstore-scrub")
    val st = new ChunkStore(spark, root)
    val files = (0 until 4).map(i => s"/s/doc$i.md")
    files.foreach(f => st.upsertFile(f, Seq(mkChunk(f, 0, s"text $f")).toDF()))
    assert(st.scrub() === Seq.empty)
    // sabotage: delete one referenced data directory behind the manifest's back
    val victim = entriesFor(root, files.head).head
    deleteTree(new java.io.File(s"$root/${victim.path}"))
    val problems = st.scrub()
    assert(problems.size === 1 && problems.head.contains(victim.path),
      problems.mkString(";"))
  }

  test("shallow clone: zero-copy branch reads the source and diverges on write") {
    val srcRoot = tmpRoot("vstore-src")
    val src = new ChunkStore(spark, srcRoot)
    val files = (0 until 4).map(i => s"/cl/doc$i.md")
    files.foreach(f => src.upsertFile(f, Seq(mkChunk(f, 0, s"base $f")).toDF()))

    val cloneRoot = tmpRoot("vstore-clone")
    val clone = src.cloneTo(cloneRoot)
    // zero-copy: the clone resolves the SOURCE's files; it owns none yet
    assert(clone.read().orderBy("id").collect() === src.read().orderBy("id").collect())
    assert(clone.read().inputFiles.forall(_.contains(srcRoot)))
    assert(!new java.io.File(s"$cloneRoot/data").exists())

    // clone writes land under the clone and never touch the source
    clone.upsertFile(files.head, Seq(mkChunk(files.head, 0, "clone edit")).toDF())
    assert(clone.read().filter(col("filePath") === files.head)
      .select("text").as[String].head() === "clone edit")
    assert(src.read().filter(col("filePath") === files.head)
      .select("text").as[String].head() === s"base ${files.head}")

    // source writes after the clone point don't leak into the clone
    src.upsertFile(files(1), Seq(mkChunk(files(1), 0, "src moved on")).toDF())
    assert(clone.read().filter(col("filePath") === files(1))
      .select("text").as[String].head() === s"base ${files(1)}")

    // compaction LOCALIZES the clone: afterwards every file it reads is its
    // own, so the source's retention no longer constrains it
    clone.optimize(maxFragments = 0)
    assert(clone.read().inputFiles.forall(_.contains(cloneRoot)),
      clone.read().inputFiles.take(3).mkString(","))
    assert(clone.read().count() === 4L)

    // cloning into a non-empty table is refused
    intercept[IllegalArgumentException] { src.cloneTo(cloneRoot) }
  }

  test("parquet manifest stats: a one-file read opens only matching data files") {
    val root = tmpRoot()
    val st = new ChunkStore(spark, root)
    val files = (0 until 8).map(i => s"/corpus/doc$i.md")
    files.foreach(f => st.upsertFile(f, Seq(mkChunk(f, 0, s"text of $f"),
      mkChunk(f, 1, s"second chunk of $f")).toDF())): Unit

    // every manifest entry carries usable stats
    val target = files(3)
    val all = entriesFor(root, target)
    // bucket + range pruning leaves exactly the entry holding the target;
    // at 8 files over every bucket that is a strict subset of the snapshot
    assert(all.nonEmpty)
    assert(all.forall(e => e.bucket == ChunkStore.bucketOf(target)))
    assert(all.forall(e => e.minPath <= target && target <= e.maxPath))
    assert(all.map(_.nRows).sum >= 2L)
    val snapshotFiles = st.read().inputFiles.length
    assert(all.size < snapshotFiles,
      s"pruned ${all.size} vs snapshot $snapshotFiles — no skipping happened")

    // the pruned read sees exactly the file's rows, and ONLY the pruned
    // entries back the scan
    val df = st.readFiles(Seq(target))
    assert(df.select("text").as[String].collect().toSet ===
      Set(s"text of $target", s"second chunk of $target"))
    assert(df.inputFiles.length === all.size)

    // a path whose stats ranges cannot contain it opens ZERO files
    // (same-bucket membership alone is not enough — ranges must match)
    val ghost = "/zzz/never-written.md"
    assert(entriesFor(root, ghost).forall(e =>
      e.minPath <= ghost && ghost <= e.maxPath))
    assert(st.readFiles(Seq(ghost)).count() === 0L)
    val below = "/AAA/before-everything.md"
    assert(entriesFor(root, below).isEmpty)
    assert(st.readFiles(Seq(below)).inputFiles.isEmpty)
  }

  test("deleteFile: single-bucket copy-on-write removal; ghost delete is a no-op") {
    val st = tmpStore()
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "xx")).toDF())
    st.upsertFile("/a/y.md", Seq(mkChunk("/a/y.md", 0, "yy")).toDF())
    val vBefore = st.latestVersion().get
    st.deleteFile("/a/x.md")
    val vDel = st.latestVersion().get
    assert(vDel === vBefore + 1)
    assert(st.read().select("filePath").as[String].collect().toSeq === Seq("/a/y.md"))
    // the deleted file's rows are still visible via time travel
    assert(st.read(vBefore).filter(col("filePath") === "/a/x.md").count() === 1L)
    // deleting a path no stats range can contain commits nothing
    st.deleteFile("/zzz/ghost.md")
    assert(st.latestVersion() === Some(vDel))
    // the change feed reports exactly the one delete
    val ch = st.changes(vBefore, vDel)
    assert(ch.filter(col("_change_type") === "delete")
      .select("filePath").as[String].collect().toSeq === Seq("/a/x.md"))
  }

  test("materialized view: full, incremental (only churned groups recomputed), noop") {
    import graft.store.MaterializedView
    // content-derived hashes so edits actually register in the change feed
    def chunk(file: String, idx: Int, text: String): graft.core.ChunkSchema.ChunkRow =
      graft.core.ChunkSchema.ChunkRow(s"$file-$idx", file, idx, text,
        embedder.embed(text),
        graft.core.ChunkSchema.ChunkMetadata(file.split('/').last,
          text.length.toLong, "md"),
        Some("t"), Some(s"h-${text.hashCode}"), "2026-01-01T00:00:00Z")
    val root = Files.createTempDirectory("mvstore").toString
    val st = new ChunkStore(spark, s"$root/table")
    val mv = new MaterializedView(spark, st, s"$root/view", "filePath", Seq(
      count(lit(1)).as("n_chunks"),
      sum(length(col("text"))).cast("long").as("total_chars"),
      max(col("text")).as("max_text"))) // non-distributive on purpose

    st.upsertFile("/a/x.md", Seq(chunk("/a/x.md", 0, "alpha"),
      chunk("/a/x.md", 1, "beta")).toDF())
    st.upsertFile("/a/y.md", Seq(chunk("/a/y.md", 0, "gamma")).toDF())
    st.upsertFile("/b/z.md", Seq(chunk("/b/z.md", 0, "delta")).toDF())

    val full = mv.refresh()
    assert(full.mode === "full")
    assert(full.df.count() === 3L)

    // edit ONE file: drop a chunk, revise the other (max_text must shrink —
    // +/- maintenance could not produce this, partial recompute does)
    st.upsertFile("/a/x.md", Seq(chunk("/a/x.md", 0, "alp")).toDF())
    val inc = mv.refresh()
    assert(inc.mode === "incremental")
    assert(inc.recomputedGroups === 1L)
    val got = inc.df.orderBy("filePath")
      .as[(String, Long, Long, String)].collect().toSeq
    assert(got === Seq(("/a/x.md", 1L, 3L, "alp"),
      ("/a/y.md", 1L, 5L, "gamma"), ("/b/z.md", 1L, 5L, "delta")))
    // incremental result is bit-identical to a from-scratch recompute
    val scratch = st.read().groupBy("filePath")
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        max(col("text")).as("max_text"))
      .orderBy("filePath").as[(String, Long, Long, String)].collect().toSeq
    assert(got === scratch)

    // whole-file delete drops its group from the view
    st.deleteFile("/b/z.md")
    val inc2 = mv.refresh()
    assert(inc2.mode === "incremental" && inc2.recomputedGroups === 1L)
    assert(inc2.df.select("filePath").as[String].collect().sorted.toSeq ===
      Seq("/a/x.md", "/a/y.md"))

    // already current → noop; view snapshots are immutable history
    val noop = mv.refresh()
    assert(noop.mode === "noop")
    assert(mv.refreshedVersions().size === 3)
    mv.prune(keep = 1)
    assert(mv.refreshedVersions().size === 1)
    assert(mv.read().count() === 2L)
  }

  test("materialized view: a view whose version the store no longer keeps recomputes in full") {
    import graft.store.MaterializedView
    val root = Files.createTempDirectory("mvkept").toString
    val st = new ChunkStore(spark, s"$root/table")
    val mv = new MaterializedView(spark, st, s"$root/view", "filePath",
      Seq(count(lit(1)).as("n_chunks")))
    def add(f: String): Unit = st.upsertFile(f, Seq(mkChunk(f, 0, s"text of $f")).toDF())
    val keep = ChunkStore.KeepVersions
    add("/k/a.md")
    assert(mv.refresh().mode === "full")
    // keep - 1 commits later the view's version is still kept: the change
    // feed spans the gap
    (1 until keep).foreach(i => add(s"/k/b$i.md"))
    val inc = mv.refresh()
    assert(inc.mode === "incremental" && inc.recomputedGroups === keep - 1L)
    // keep commits later the vacuum has dropped it: no feed reaches back
    (0 until keep).foreach(i => add(s"/k/c$i.md"))
    assert(!st.versions().contains(inc.storeVersion))
    val full = mv.refresh()
    assert(full.mode === "full")
    assert(full.df.orderBy("filePath").as[(String, Long)].collect().toSeq ===
      st.read().groupBy("filePath").agg(count(lit(1)).as("n_chunks"))
        .orderBy("filePath").as[(String, Long)].collect().toSeq)
    assert(full.df.count() === 2L * keep)
  }

  test("materialized view: multi-column groups and torn-refresh recovery") {
    import graft.store.MaterializedView
    def chunk(file: String, idx: Int, text: String, ftype: String) =
      graft.core.ChunkSchema.ChunkRow(s"$file-$idx", file, idx, text,
        embedder.embed(text),
        graft.core.ChunkSchema.ChunkMetadata(file.split('/').last, text.length.toLong, ftype),
        Some("t"), Some(s"h-${text.hashCode}"), "2026-01-01T00:00:00Z")
    val root = Files.createTempDirectory("mvmulti").toString
    val st = new ChunkStore(spark, s"$root/table")
    // group on (fileTitle, timestamp) — NOT the store's stats dimension,
    // so the incremental recompute must source affected groups from the
    // whole snapshot (a group can span files the batch never touched)
    val mv = new MaterializedView(spark, st, s"$root/view",
      Seq("fileTitle", "timestamp"), Seq(count(lit(1)).as("n_chunks")))

    st.upsertFile("/m/a.md", Seq(chunk("/m/a.md", 0, "aaa", "md"),
      chunk("/m/a.md", 1, "bbbb", "md")).toDF())
    st.upsertFile("/m/b.md", Seq(chunk("/m/b.md", 0, "ccccc", "md")).toDF())
    assert(mv.refresh().mode === "full")

    // an edit touches one file; the affected group ("t", ts) spans BOTH
    // files, so the recompute must see the untouched file's rows too
    st.upsertFile("/m/a.md", Seq(chunk("/m/a.md", 0, "dd", "md")).toDF())
    val inc = mv.refresh()
    assert(inc.mode === "incremental" && inc.recomputedGroups === 1L)
    val got = inc.df.as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("t", "2026-01-01T00:00:00Z", 2L))) // rewritten a.md + untouched b.md

    // torn refresh: a version dir WITHOUT _SUCCESS must not count as
    // refreshed — the next refresh rewrites it instead of serving it
    val vBefore = st.latestVersion().get
    st.upsertFile("/m/c.md", Seq(chunk("/m/c.md", 0, "eee", "md")).toDF())
    val torn = new java.io.File(f"$root/view/v${st.latestVersion().get}%08d")
    torn.mkdirs() // simulated crash: directory exists, no _SUCCESS, no data
    assert(mv.refreshedVersions().max === vBefore)
    val healed = mv.refresh()
    assert(healed.mode === "incremental")
    assert(healed.df.as[(String, String, Long)].collect().toSeq ===
      Seq(("t", "2026-01-01T00:00:00Z", 3L)))
  }

  test("materialized view: a NULL group key refreshes, not served stale") {
    import graft.store.MaterializedView
    def chunk(file: String, idx: Int, text: String, title: Option[String]) =
      ChunkRow(s"$file-$idx", file, idx, text, embedder.embed(text),
        ChunkMetadata(file.split('/').last, text.length.toLong, "md"),
        title, Some(s"h-${text.hashCode}"), "2026-01-01T00:00:00Z")
    val root = Files.createTempDirectory("mvnull").toString
    val st = new ChunkStore(spark, s"$root/table")
    // group on nullable fileTitle: one of the groups' key IS null. The
    // failure mode: concat_ws SKIPS nulls in the Catalyst key while the
    // driver side rendered them as a different string, so the null-keyed
    // group never matched isInCollection — its stale row was carried
    // forward AND excluded from the recompute. Sentinel keying on both
    // sides makes the membership test agree.
    val mv = new MaterializedView(spark, st, s"$root/view", "fileTitle", Seq(
      count(lit(1)).as("n_chunks"),
      sum(length(col("text"))).cast("long").as("total_chars")))
    st.upsertFile("/n/a.md", Seq(chunk("/n/a.md", 0, "alpha", None),
      chunk("/n/a.md", 1, "beta", Some("t"))).toDF())
    st.upsertFile("/n/b.md", Seq(chunk("/n/b.md", 0, "gamma", None)).toDF())
    assert(mv.refresh().mode === "full")
    // this edit touches ONLY the null-titled group
    st.upsertFile("/n/b.md",
      Seq(chunk("/n/b.md", 0, "gamma grew much longer", None)).toDF())
    val inc = mv.refresh()
    assert(inc.mode === "incremental" && inc.recomputedGroups === 1L)
    val got = inc.df.orderBy("fileTitle")
      .as[(Option[String], Long, Long)].collect().toSeq
    val scratch = st.read().groupBy("fileTitle")
      .agg(count(lit(1)).as("n_chunks"),
        sum(length(col("text"))).cast("long").as("total_chars"))
      .orderBy("fileTitle").as[(Option[String], Long, Long)].collect().toSeq
    assert(got === scratch)
    assert(got.contains((None, 2L, ("alpha" + "gamma grew much longer").length.toLong)))
  }

  test("change feed: null contentHash rows diff null-safely (update not dropped)") {
    def chunk(text: String, hash: Option[String]) =
      ChunkRow("/c/x.md-0", "/c/x.md", 0, text, embedder.embed(text),
        ChunkMetadata("x.md", text.length.toLong, "md"), Some("t"), hash,
        "2026-01-01T00:00:00Z")
    val st = tmpStore()
    st.upsertFile("/c/x.md", Seq(chunk("one", None)).toDF())
    val v1 = st.latestVersion().get
    st.upsertFile("/c/x.md", Seq(chunk("two", Some("h2"))).toDF())
    val v2 = st.latestVersion().get
    // null → value: a =!= comparison evaluates to null and the row would
    // vanish from the feed (neither insert, update, nor delete); the
    // null-safe <=> negation reports it as the update it is
    val up1 = st.changes(v1, v2).filter(col("_change_type") === "update_postimage")
      .select("text").as[String].collect().toSeq
    assert(up1 === Seq("two"))
    // value → null: same hazard on the other side
    st.upsertFile("/c/x.md", Seq(chunk("three", None)).toDF())
    val v3 = st.latestVersion().get
    val up2 = st.changes(v2, v3).filter(col("_change_type") === "update_postimage")
      .select("text").as[String].collect().toSeq
    assert(up2 === Seq("three"))
    // null → null is NOT an update (identical by the null-safe test)
    st.upsertFile("/c/x.md", Seq(chunk("three", None)).toDF())
    val v4 = st.latestVersion().get
    assert(st.changes(v3, v4).count() === 0L)
  }
}
