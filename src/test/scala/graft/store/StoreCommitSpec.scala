package graft.store

import java.io.IOException
import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkSchema.{ChunkMetadata, ChunkRow}
import graft.core.{GraftSession, Profile, Seam}
import graft.embed.HashedEmbedder
import graft.ops.CleanCorpus

/** The local filesystem under the `fault:` scheme, throwing at the k-th
  * write of a store mutation once armed. A write is a table write starting
  * (the first mkdirs of a new directory directly under a `data/` dir) or a
  * commit (a rename into a `_log/` dir), so arming k = 1, 2, … kills a
  * mutation before each of its writes in turn. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("fault:///")
  override def getScheme: String = "fault"
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultFs.onMkdirs(this, f); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = { FaultFs.onMkdirs(this, f); super.mkdirs(f) }
  override def rename(src: Path, dst: Path): Boolean = {
    if (dst.getParent != null && dst.getParent.getName == "_log") FaultFs.write()
    super.rename(src, dst)
  }
}

object FaultFs {
  val Message = "injected store fault"
  private val armedAt = new AtomicInteger(0)
  private val writes = new AtomicInteger(0)
  private val started = ConcurrentHashMap.newKeySet[String]()

  def arm(k: Int): Unit = { started.clear(); writes.set(0); armedAt.set(k) }
  def disarm(): Unit = armedAt.set(0)

  private def write(): Unit =
    if (armedAt.get > 0 && writes.incrementAndGet() == armedAt.get)
      throw new IOException(Message)

  private def onMkdirs(fs: FaultFs, f: Path): Unit = {
    var p = f
    while (p != null && p.getParent != null && p.getParent.getName != "data") p = p.getParent
    if (p != null && p.getParent != null && !fs.exists(p) && started.add(p.toUri.getPath))
      write()
  }

  def fired(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(Message))
}

/** The one commit protocol under faults and concurrency: a mutation killed
  * before any of its writes leaves every store reading exactly its
  * previous version (rows and stats), a reader keeps the version it
  * resolved, a reader racing writers never sees a missing table, and the
  * version-keyed memos hold on a scheme-qualified root. */
class StoreCommitSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = GraftSession.local(4)
    s.sparkContext.hadoopConfiguration.set("fs.fault.impl", classOf[FaultFs].getName)
    s
  }
  import spark.implicits._

  private val embedder = new HashedEmbedder(16)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def chunk(file: String, idx: Int, text: String): ChunkRow =
    ChunkRow(s"$file-$idx", file, idx, text, embedder.embed(text),
      ChunkMetadata(file.split('/').last, text.length.toLong, "md"),
      Some("t"), Some("h"), "2026-01-01T00:00:00Z")

  private val topics = Seq("spark shuffle partitions executors", "pasta tomato sauce basil",
    "quantum particle spin physics", "garden flowers spring bloom")

  private def corpus(files: Int, chunks: Int): DataFrame =
    (for (f <- 0 until files; i <- 0 until chunks)
      yield chunk(s"/c/doc$f.md", i, s"${topics((f + i) % 4)} part $i of doc $f"))
      .toDF()

  /** Runs `mutate` with a fault armed at its k-th write for k = 1, 2, … and
    * checks after every killed attempt that `state` still equals `before`.
    * Returns the number of writes the completed mutation made. */
  private def underEveryFault[S](before: S, state: => S)(mutate: => Unit): Int = {
    var k = 1
    var done = false
    while (!done) {
      FaultFs.arm(k)
      try { mutate; done = true }
      catch { case e: Throwable if FaultFs.fired(e) => () }
      finally FaultFs.disarm()
      if (!done) {
        assert(state === before, s"a fault at write $k changed the store")
        k += 1
      }
      assert(k < 40, "the mutation never completed")
    }
    k - 1
  }

  private def rows(df: DataFrame): Seq[(String, Int, String)] =
    df.select("filePath", "chunkIndex", "text").as[(String, Int, String)]
      .collect().toSeq.sorted

  test("ChunkStore upsert and delete: a fault before any write leaves the previous version; a resolved reader keeps its own") {
    val st = new ChunkStore(spark, s"fault:${tmp("fault-chunks")}/table")
    st.insert(Seq(chunk("/a/x.md", 0, "old x"), chunk("/a/x.md", 1, "old x two"),
      chunk("/a/y.md", 0, "y text")).toDF())
    val v0 = rows(st.read())
    val reader0 = st.read()
    val upsertWrites = underEveryFault(v0, rows(st.read()))(
      st.upsertFile("/a/x.md", Seq(chunk("/a/x.md", 0, "new x")).toDF()))
    assert(upsertWrites === 2, "one table directory and one commit")
    val v1 = rows(st.read())
    assert(v1 === Seq(("/a/x.md", 0, "new x"), ("/a/y.md", 0, "y text")))
    assert(rows(reader0) === v0, "a reader resolved before the commit reads its version")

    val reader1 = st.read()
    assert(underEveryFault(v1, rows(st.read()))(st.deleteFile("/a/y.md")) === 2)
    assert(rows(st.read()) === Seq(("/a/x.md", 0, "new x")))
    assert(rows(reader1) === v1)
  }

  test("FtsIndexStore and AnnIndexStore rebuilds: a fault before any write leaves rows and stats of the previous version") {
    val root = s"fault:${tmp("fault-index")}"
    val fts = new FtsIndexStore(spark, s"$root/fts")
    val ann = new AnnIndexStore(spark, s"$root/ann")
    val c0 = corpus(files = 4, chunks = 6)
    val c1 = c0.union(corpus(files = 6, chunks = 6).filter($"filePath" >= "/c/doc4.md"))
    fts.rebuild(c0)
    ann.rebuild(c0, nLists = 4)
    val files = (0 until 6).map(f => s"/c/doc$f.md")
    val tokens = Seq("spark", "pasta", "doc")
    def ftsState() = {
      val idx = fts.load().get
      (fts.corpusStats(), idx.postings.count(), idx.docLens.count(),
        fts.queryTerms(tokens, files))
    }
    val q = embedder.embed("spark shuffle partitions")
    def annState() = (ann.rowCount(),
      ann.loadCentroids().map(_.toSeq).toSeq,
      ann.probe(q, 4, 30).collect().toSeq)

    val fts0 = ftsState()
    val postings0 = fts.load().get.postings
    val ftsWrites = underEveryFault(fts0, ftsState())(fts.rebuild(c1))
    assert(ftsWrites === 3, "postings, doc lengths and one commit")
    assert(fts.corpusStats().map(_._1) === Some(36L))
    assert(ftsState() !== fts0)
    assert(postings0.count() === fts0._2, "a reader resolved before the commit reads its version")

    val ann0 = annState()
    val annWrites = underEveryFault(ann0, annState())(ann.rebuild(c1, nLists = 4))
    assert(annWrites === 3, "assignments, centroids and one commit")
    assert(ann.rowCount() === 36L)
  }

  test("CleanStateStore.applyBatch + absorb with its nested index: a fault before any write leaves every table, the pinned index and the stage counts") {
    def words(tag: String, n: Int = 30): String = (0 until n).map(i => s"$tag$i").mkString(" ")
    val hold: Column = col("doc_id").isin(5L, 250L)
    val stored = Seq(1L -> words("alpha"), 2L -> words("beta"), 4L -> words("gamma"),
      5L -> words("bench"), 8L -> words("epsilon")).toDF("doc_id", "text")
    val batch = Seq(201L -> words("beta"), 202L -> words("zeta"),
      204L -> (words("epsilon") + " tail"),
      250L -> (words("alpha", 12) + " " + words("theta", 20)),
      208L -> words("iota")).toDF("doc_id", "text")
    val union = stored.union(batch)
    val st = new CleanStateStore(spark, s"fault:${tmp("fault-clean")}/state")
    st.rebuild(stored, hold)
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet
    def state() = (st.stageCounts(), ids(st.survivors()))
    val before = state()
    val reader = st.survivors()
    val writes = underEveryFault(before, state())(
      Seam.scoped(seam => st.absorb(st.applyBatch(seam, batch, union, hold))))
    // the index's two tables and its commit, five state tables (revoked
    // included: the batch holdout revokes stored 1) and the outer commit
    assert(writes === 9, s"$writes writes")
    // a killed absorb may leave an index commit the state never published;
    // the pinned read ignores it, so the result is the union funnel exactly
    val truth = Seam.scoped(seam =>
      ids(CleanCorpus.cleanCorpus(seam, union, "doc_id", "text", Some(hold)).decontaminated))
    assert(ids(st.survivors()) === truth)
    assert(st.stageCounts()._5 === truth.size.toLong)
    assert(st.stageCounts()._1 === union.count())
    assert(ids(reader) === before._2, "a reader resolved before the commit reads its version")
  }

  test("readers racing writers never see a missing table; every count is a committed version's") {
    val root = tmp("race")
    val st = new ChunkStore(spark, s"$root/chunks")
    val fts = new FtsIndexStore(spark, s"$root/fts")
    st.insert(corpus(files = 2, chunks = 3))
    fts.rebuild(st.read())
    // version i holds 6 + i chunks: each upsert adds one file of one chunk
    val committed = (0 to 20).map(i => 6L + i).toSet
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => {
      while (!done.get) {
        try {
          seen.add(st.read().count())
          fts.queryTerms(Seq("spark", "pasta"), Seq("/c/doc0.md", "/w/f3.md"))
        } catch { case t: Throwable => failures.add(t) }
      }
    })
    reader.start()
    try {
      for (i <- 1 to 20) {
        st.upsertFile(s"/w/f$i.md", Seq(chunk(s"/w/f$i.md", 0, s"spark write $i")).toDF())
        fts.rebuild(st.read())
      }
    } finally { done.set(true); reader.join() }
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty, failures.asScala.map(_.toString).take(3).mkString("; "))
    assert(seen.size > 0)
    assert(seen.asScala.forall(committed.contains),
      s"uncommitted counts: ${seen.asScala.filterNot(committed.contains).toSet}")
  }

  test("memos on a file:-qualified root: a second rowCount, corpusStats and loadCentroids run no Spark job") {
    val root = "file:" + tmp("qualified")
    val fts = new FtsIndexStore(spark, s"$root/fts")
    val ann = new AnnIndexStore(spark, s"$root/ann")
    val c = corpus(files = 3, chunks = 4)
    fts.rebuild(c)
    ann.rebuild(c, nLists = 3)
    def probes() = (ann.rowCount(), fts.corpusStats(), ann.loadCentroids().map(_.toSeq).toSeq)
    val first = probes()
    val (second, rec) = Profile.window(spark.sparkContext)(probes())
    assert(rec.jobs.isEmpty, s"memoized probes ran ${rec.jobs.size} jobs")
    assert(second === first)
    assert(first._1 === 12L && first._2.map(_._1) === Some(12L))
  }
}
