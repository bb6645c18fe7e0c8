package graft.store

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkSchema.{ChunkMetadata, ChunkRow}
import graft.core.{GraftSession, Profile}
import graft.embed.HashedEmbedder
import graft.search.Bm25

/** The FTS index follows the chunk store's buckets: after every mutation
  * of a seeded sequence a refresh equals a full rebuild of the same rows
  * (postings, per-bucket and total stats, BM25 scores to the bit), a
  * one-file refresh rewrites one bucket and carries the others by path,
  * and an index version in the table layout reads as absent. */
class FtsIndexSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val embedder = new HashedEmbedder(8)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private val words = Seq("spark", "shuffle", "pasta", "tomato", "quantum", "spin",
    "garden", "bloom", "join", "data")

  private def chunk(rnd: Random, file: String, idx: Int): ChunkRow = {
    val text = Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.size))).mkString(" ")
    ChunkRow(s"$file-$idx", file, idx, text, embedder.embed(text),
      ChunkMetadata(file.split('/').last, text.length.toLong, "md"), Some("t"), Some("h"),
      "2026-01-01T00:00:00Z")
  }

  private val query = Seq("spark", "pasta", "bloom", "join")

  /** what a query and a bucket see: postings rows, per-bucket stats,
    * total stats, and the scores of `query` over every stored file */
  private def answers(fts: FtsIndexStore, root: String, files: Seq[String]) = {
    val m = new StoreLog(spark, root).latest()
    (fts.load().get.postings.as[(String, Int, String, Long, Long)].collect().toSeq.sorted,
      m.stats, fts.corpusStats(),
      fts.queryTerms(query, files).map(Bm25.scoreTerms(_, query)))
  }

  private def sequence(st: ChunkStore, rnd: Random, name: String): Unit = {
    val root = tmp(name)
    val inc = new FtsIndexStore(spark, s"$root/inc")
    val pool = (0 until 12).map(i => s"/s/$name/f$i.md")
    def rowsOf(f: String) = (0 until 1 + rnd.nextInt(4)).map(chunk(rnd, f, _))
    def stored() = st.listFiles().collect().map(_.getString(0)).toSeq
    var step = 0
    def check(what: String)(op: => Any): Unit = {
      op
      inc.refresh(st)
      val full = new FtsIndexStore(spark, s"$root/full$step")
      full.rebuild(st.read())
      step += 1
      val files = stored()
      assert(answers(inc, s"$root/inc", files) === answers(full, s"$root/full${step - 1}", files), what)
      assert(inc.nDocs() === st.read().count(), what)
    }
    check("first refresh")(())
    for (round <- 0 until 2) {
      val fresh = pool.filterNot(stored().toSet)
      check(s"$round insert")(st.insert(rnd.shuffle(fresh).take(3).flatMap(rowsOf).toDF()))
      val f = rnd.shuffle(stored()).head
      check(s"$round upsertFile $f")(st.upsertFile(f, rowsOf(f).toDF()))
      check(s"$round deleteFiles")(st.deleteFiles(rnd.shuffle(stored()).take(2)))
      val (up, del) = rnd.shuffle(pool).take(5).splitAt(3)
      check(s"$round upsertFilesFromRows")(st.upsertFilesFromRows(up.flatMap(rowsOf).toDF(), del))
      check(s"$round optimize")(st.optimize(maxFragments = 0))
    }
  }

  test("after every step of a seeded sequence, refresh equals a fresh rebuild") {
    val rnd = new Random(20261020L)
    val st = new ChunkStore(spark, s"${tmp("fts-seq")}/chunks")
    st.insert((0 until 4).flatMap(i => (0 until 3).map(chunk(rnd, s"/s/seq/f$i.md", _))).toDF())
    sequence(st, rnd, "seq")
  }

  test("a one-file refresh rewrites its bucket in one job and carries every other bucket by path") {
    val rnd = new Random(11L)
    val root = tmp("fts-carry")
    val st = new ChunkStore(spark, s"$root/chunks")
    val fts = new FtsIndexStore(spark, s"$root/fts")
    val log = new StoreLog(spark, s"$root/fts")
    val files = (0 until 16).map(i => s"/c/f$i.md")
    st.insert(files.flatMap(f => (0 until 2).map(chunk(rnd, f, _))).toDF())
    fts.refresh(st)
    val before = log.latest()
    assert(before.entries.filter(_.table == "postings").map(_.bucket).sorted ===
      (0L until ChunkStore.Buckets))

    val (_, unchanged) = Profile.window(spark.sparkContext)(fts.refresh(st))
    assert(unchanged.jobs.isEmpty && log.latest().version === before.version,
      "an unchanged chunk store commits nothing")

    val f = files(5)
    st.upsertFile(f, Seq(chunk(rnd, f, 0)).toDF())
    val (_, rec) = Profile.window(spark.sparkContext)(fts.refresh(st))
    assert(rec.jobs.size === 1, rec.jobs.map(_.label).mkString(", "))
    val after = log.latest()
    val mine = ChunkStore.bucketOf(f)
    def others(m: Manifest) = m.entries.filter(_.bucket != mine).toSet
    assert(others(after) === others(before))
    assert(after.stats.filter(!_._1.endsWith(s".$mine")) === before.stats.filter(!_._1.endsWith(s".$mine")))
    assert(after.entries.filter(e => e.bucket == mine && e.table == "postings") !==
      before.entries.filter(e => e.bucket == mine && e.table == "postings"))
  }

  test("a version in the table layout reads as absent; the next refresh rebuilds every bucket") {
    val rnd = new Random(3L)
    val root = tmp("fts-old")
    val st = new ChunkStore(spark, s"$root/chunks")
    st.insert((0 until 8).flatMap(i => (0 until 2).map(chunk(rnd, s"/o/f$i.md", _))).toDF())
    val log = new StoreLog(spark, s"$root/fts")
    val old = Bm25.buildIndex(st.read(), Seq("filePath", "chunkIndex"),
      Bm25.wordTokens(org.apache.spark.sql.functions.col("text")))
    log.publish(log.latest(), Manifest(
      tables = Map("postings" -> Seq(log.write("postings", old.postings.drop("dl"))),
        "doclens" -> Seq(log.write("doclens", old.docLens))),
      stats = Map("n_docs" -> 16L, "sum_dl" -> 40L)))
    val fts = new FtsIndexStore(spark, s"$root/fts")
    assert(!fts.exists && fts.nDocs() === -1L && fts.corpusStats().isEmpty)
    assert(fts.load().isEmpty && fts.queryTerms(query, Seq("/o/f1.md")).isEmpty)

    fts.refresh(st)
    val m = log.latest()
    assert(m.tables.isEmpty)
    assert(m.entries.filter(_.table == "postings").map(_.bucket).toSet ===
      st.listFiles().collect().map(r => ChunkStore.bucketOf(r.getString(0))).toSet)
    val full = new FtsIndexStore(spark, s"$root/full")
    full.rebuild(st.read())
    val files = st.listFiles().collect().map(_.getString(0)).toSeq
    assert(answers(fts, s"$root/fts", files) === answers(full, s"$root/full", files))
    // the ad-hoc terms a query takes without an index score the same
    val adHoc = Bm25.scoreTerms(Bm25.adHocTerms(st.read(), query, files), query)
    assert(fts.queryTerms(query, files).map(Bm25.scoreTerms(_, query)) === Some(adHoc))
  }

  test("a query reads the index in one job, with no schema inference on a fresh version") {
    val rnd = new Random(5L)
    val root = tmp("fts-query")
    val st = new ChunkStore(spark, s"$root/chunks")
    val fts = new FtsIndexStore(spark, s"$root/fts")
    st.insert((0 until 6).flatMap(i => (0 until 2).map(chunk(rnd, s"/q/f$i.md", _))).toDF())
    fts.refresh(st)
    st.upsertFile("/q/f2.md", Seq(chunk(rnd, "/q/f2.md", 0)).toDF())
    fts.refresh(st)
    val (terms, rec) = Profile.window(spark.sparkContext)(fts.queryTerms(query, Seq("/q/f2.md")))
    assert(rec.jobs.size === 1, rec.jobs.map(_.label).mkString(", "))
    assert(terms.get.docLens.keySet.forall(_._1 == "/q/f2.md"))
  }
}
