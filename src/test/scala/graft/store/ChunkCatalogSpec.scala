package graft.store

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkSchema.{ChunkMetadata, ChunkRow}
import graft.core.{GraftSession, Profile}
import graft.embed.HashedEmbedder

/** The per-file catalog committed with every chunk-table version answers
  * exactly what the aggregates over the chunk table it replaced answered,
  * after every operation of a seeded sequence, with no Spark job on the
  * read side; a root in an earlier layout is refused. */
class ChunkCatalogSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val embedder = new HashedEmbedder(8)

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString + "/table"

  private def chunk(file: String, idx: Int, hash: Option[String], day: Int): ChunkRow =
    ChunkRow(s"$file-$idx-${Random.nextLong()}", file, idx, s"text $idx of $file",
      embedder.embed(s"$file $idx"), ChunkMetadata(file.split('/').last, 10L, "md"),
      Some("t"), hash, f"2026-01-$day%02dT00:00:00Z")

  /** the listing, manifest and status the chunk table's own aggregates
    * give — the groupBy, distinct and countDistinct the catalog replaced.
    * The old manifest had one row per distinct (filePath, contentHash)
    * pair; a file reads as its hash when that is its one pair and the hash
    * is not null, as null otherwise (both forms make sync upsert it). */
  private def aggregates(rows: DataFrame) = {
    val listed = rows.groupBy("filePath")
      .agg(count(lit(1)).as("chunkCount"), max("timestamp").as("lastModified"))
      .orderBy("filePath").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    val pairs = rows.select("filePath", "contentHash").distinct().collect()
      .map(r => r.getString(0) -> Option(r.getString(1)))
    val manifest = pairs.groupBy(_._1).toSeq.map { case (f, ps) =>
      f -> (ps.map(_._2).toSeq match { case Seq(Some(h)) => h; case _ => null })
    }.sortBy(_._1)
    val st = rows.agg(count(lit(1)), countDistinct("filePath")).head()
    (listed, manifest, (st.getLong(0), st.getLong(1)))
  }

  private def answers(st: ChunkStore) = (
    st.listFiles().collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq,
    st.manifest().collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sortBy(_._1),
    st.status())

  test("a seeded sequence of mutations: after each, the catalog equals the aggregates over read(), and one commit names chunks and files") {
    val rnd = new Random(20261019L)
    val root = tmp("catalog-seq")
    val st = new ChunkStore(spark, root)
    val log = new StoreLog(spark, root)
    val files = (0 until 10).map(i => s"/s/f$i.md")
    def pick(n: Int) = rnd.shuffle(files).take(n)
    def hash() = Seq(Some("a"), Some("b"), None)(rnd.nextInt(3))
    // a file's rows share one hash; `mixed` gives each row its own draw
    def rowsOf(f: String, mixed: Boolean = false): Seq[ChunkRow] = {
      val h = hash()
      (0 until 1 + rnd.nextInt(3)).map(i => chunk(f, i, if (mixed) hash() else h, 1 + rnd.nextInt(28)))
    }
    def step(what: String, commits: Boolean = true)(op: => Any): Unit = {
      val before = log.latest().version
      op
      val m = log.latest()
      if (commits) {
        assert(m.version === before + 1, s"$what: one commit")
        // every non-empty bucket names its chunk entries and one catalog slice
        assert(m.tables.isEmpty && m.entries.groupBy(_.bucket).values.forall(es =>
          es.count(_.table == "files") == 1 && es.exists(_.table == "chunks")), s"$what: ${m.entries}")
      } else assert(m.version === before, s"$what: no commit")
      assert(answers(st) === aggregates(st.read()), what)
    }
    for (round <- 0 until 2) {
      step(s"$round insert")(st.insert(pick(4).flatMap(f => rowsOf(f, mixed = true)).toDF()))
      step(s"$round insert of legacy columns")(st.insert(
        pick(2).flatMap(f => rowsOf(f)).toDF().drop("fileTitle", "contentHash")))
      val f = pick(1).head
      step(s"$round upsertFile $f")(st.upsertFile(f, rowsOf(f).toDF()))
      step(s"$round deleteFile")(st.deleteFile(
        rnd.shuffle(st.listFiles().collect().map(_.getString(0)).toSeq).head))
      // a path no bucket entry can hold deletes nothing and commits nothing
      step(s"$round deleteFile of a never-stored path", commits = false)(
        st.deleteFile("/zzz/never-stored.md"))
      val (up, del) = pick(5).splitAt(3)
      step(s"$round upsertFilesFromRows with deletes")(
        assert(st.upsertFilesFromRows(up.flatMap(f => rowsOf(f)).toDF(), del) === 3L))
      step(s"$round prune-only upsertFilesFromRows")(
        assert(st.upsertFilesFromRows(Seq.empty[ChunkRow].toDF(), pick(2)) === 0L))
      step(s"$round optimize")(st.optimize(maxFragments = 0))
    }
    // an empty batch that deletes nothing commits nothing
    step("empty upsertFilesFromRows", commits = false)(
      assert(st.upsertFilesFromRows(Seq.empty[ChunkRow].toDF()) === 0L))
    // inserts append an entry per touched bucket while one more insert
    // cannot pass StoreLog.MaxDirs paths per read; the insert that could
    // rewrites every bucket as one entry
    def chunkEntries() = log.latest().entries.filter(_.table == "chunks")
    while (chunkEntries().size + ChunkStore.Buckets <= StoreLog.MaxDirs)
      st.insert(pick(1).flatMap(f => rowsOf(f)).toDF())
    assert(answers(st) === aggregates(st.read()), "appends up to MaxDirs")
    step("insert past MaxDirs")(st.insert(pick(2).flatMap(f => rowsOf(f, mixed = true)).toDF()))
    assert(chunkEntries().map(_.bucket).distinct.size === chunkEntries().size)
  }

  test("a table-layout or parquet-slice version is refused, naming the root") {
    val rows = Seq(chunk("/t/a.md", 0, Some("x"), 3), chunk("/t/a.md", 1, Some("x"), 4)).toDF()
    val files = Seq(("/t/a.md", "x", 2L, "2026-01-04T00:00:00Z"))
      .toDF("filePath", "contentHash", "chunkCount", "lastModified")
    // the table layout: `chunks` and `files` directories under `tables`
    val tables = tmp("refuse-tables")
    val tlog = new StoreLog(spark, tables)
    tlog.publish(tlog.latest(), Manifest(
      tables = Map("chunks" -> Seq(tlog.write("chunks", rows)), "files" -> Seq(tlog.write("files", files)))))
    // the bucket layout with a parquet catalog slice
    val slices = tmp("refuse-slices")
    val slog = new StoreLog(spark, slices)
    val b = ChunkStore.bucketOf("/t/a.md")
    slog.publish(slog.latest(), Manifest(entries = Seq(
      ManifestEntry("chunks", b, slog.write("chunks", rows), "/t/a.md", "/t/a.md", 2L),
      ManifestEntry("files", b, slog.write("files", files), "/t/a.md", "/t/a.md", 1L))))
    for (root <- Seq(tables, slices)) {
      val st = new ChunkStore(spark, root)
      val calls: Seq[(String, () => Any)] = Seq(
        "exists" -> (() => st.exists), "read" -> (() => st.read()), "status" -> (() => st.status()),
        "listFiles" -> (() => st.listFiles()), "files" -> (() => st.files()),
        "upsertFile" -> (() => st.upsertFile("/t/b.md", Seq(chunk("/t/b.md", 0, Some("y"), 5)).toDF())),
        "deleteFile" -> (() => st.deleteFile("/t/a.md")), "optimize" -> (() => st.optimize(0)))
      for ((name, call) <- calls) {
        val e = intercept[IllegalStateException](call())
        assert(e.getMessage.contains(root), s"$name on $root: ${e.getMessage}")
      }
      assert(new StoreLog(spark, root).versions() === Seq(0L), s"$root: nothing committed")
    }
  }

  test("reads run no Spark job cold or warm; upsertFile, deleteFile run one") {
    val st = new ChunkStore(spark, tmp("catalog-jobs"))
    st.insert((0 until 6).flatMap(i => Seq(chunk(s"/j/f$i.md", 0, Some("h"), 1),
      chunk(s"/j/f$i.md", 1, Some("h"), 2))).toDF())
    def jobs(body: => Any): Int = Profile.window(spark.sparkContext)(body)._2.jobs.size
    assert(jobs(st.upsertFile("/j/f1.md", Seq(chunk("/j/f1.md", 0, Some("g"), 3)).toDF())) === 1,
      "the table; the catalog slice is written on the driver")
    assert(jobs(st.deleteFile("/j/f2.md")) === 1, "the table; the catalog slice is written on the driver")
    assert(jobs(st.status()) === 0)
    assert(jobs((st.listFiles().collect(), st.manifest().collect())) === 0, "cold: the slices are read on the driver")
    assert(jobs((st.listFiles().collect(), st.manifest().collect())) === 0)
    assert(st.status() === ((9L, 5L)))
  }
}
