package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ChunkSchema.{ChunkMetadata, ChunkRow}
import graft.core.GraftSession
import graft.embed.HashedEmbedder
import graft.ingest.Ingest
import graft.search.{Bm25, HybridSearch, VectorSearch}
import graft.store.ChunkStore

class StoreSearchSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private val embedder = new HashedEmbedder(64)

  private def mkChunk(file: String, idx: Int, text: String): ChunkRow =
    ChunkRow(s"$file-$idx", file, idx, text, embedder.embed(text),
      ChunkMetadata(file.split('/').last, text.length.toLong, "md"),
      Some("t"), Some("h"), "2026-01-01T00:00:00Z")

  private def tmpStore(): ChunkStore =
    new ChunkStore(spark, Files.createTempDirectory("chunks").toString + "/table")

  /** `n` file names `<prefix><i>.md` that share one bucket of the store */
  private def sameBucket(prefix: String, n: Int): Seq[String] =
    (0 until 64 * n).map(i => s"$prefix$i.md").groupBy(ChunkStore.bucketOf)
      .values.filter(_.size >= n).minBy(_.head).take(n)

  // ---- ChunkStore ----

  test("insert + read round trip with fixed schema") {
    val st = tmpStore()
    st.insert(Seq(mkChunk("/a/x.md", 0, "first chunk text"),
      mkChunk("/a/x.md", 1, "second chunk text")).toDF())
    assert(st.read().count() === 2)
    // parquet read-back reports all fields nullable — compare names + types
    assert(st.read().schema.fieldNames.toSeq ===
      graft.core.ChunkSchema.schema.fieldNames.toSeq)
    assert(st.read().schema.map(_.dataType.simpleString) ===
      graft.core.ChunkSchema.schema.map(_.dataType.simpleString))
  }

  test("upsert replaces only the target file; delete removes it") {
    val st = tmpStore()
    st.insert(Seq(mkChunk("/a/x.md", 0, "old x"), mkChunk("/a/y.md", 0, "y text")).toDF())
    st.upsertFile("/a/x.md", Seq(mkChunk("/a/x.md", 0, "new x"), mkChunk("/a/x.md", 1, "new x2")).toDF())
    val rows = st.read().filter($"filePath" === "/a/x.md").select("text").as[String].collect().sorted
    assert(rows === Array("new x", "new x2"))
    assert(st.read().filter($"filePath" === "/a/y.md").count() === 1)
    st.deleteFile("/a/x.md")
    assert(st.read().select("filePath").distinct().as[String].collect() === Array("/a/y.md"))
  }

  test("zero-chunk upsert fails BEFORE any destructive step") {
    val st = tmpStore()
    st.insert(Seq(mkChunk("/a/x.md", 0, "keep me")).toDF())
    intercept[Ingest.NoChunksError] {
      st.upsertFile("/a/x.md", st.read().filter(lit(false)))
    }
    assert(st.read().count() === 1) // existing rows preserved
  }

  test("neighbors: clamp at 0, contract sort, isTarget, out-of-range empty") {
    val st = tmpStore()
    st.insert((0 to 9).map(i => mkChunk("/a/x.md", i, s"chunk $i")).toDF())
    val n = st.neighbors("/a/x.md", target = 1, before = 5, after = 2)
      .select("chunkIndex", "isTarget").as[(Int, Boolean)].collect()
    assert(n.map(_._1).toSeq === Seq(0, 1, 2, 3)) // clamped to >= 0
    assert(n.filter(_._2).map(_._1).toSeq === Seq(1))
    assert(st.neighbors("/a/x.md", target = 99).count() === 0)
    intercept[IllegalArgumentException] { st.neighbors("/a/x.md", 1, before = 51) }
  }

  test("listFiles + status aggregates") {
    val st = tmpStore()
    st.insert((0 to 2).map(i => mkChunk("/a/x.md", i, s"c$i")).toDF())
    st.insert(Seq(mkChunk("/a/y.md", 0, "y")).toDF())
    val lf = st.listFiles().as[(String, Long, String)].collect()
    assert(lf.map(_._1).toSeq === Seq("/a/x.md", "/a/y.md"))
    assert(lf.find(_._1 == "/a/x.md").get._2 === 3L)
    assert(st.status() === (4L, 2L))
  }

  test("additive schema migration: old tables read with null new columns") {
    // commit a pre-migration table (no fileTitle / contentHash): insert
    // writes the frame's own columns
    val dir = Files.createTempDirectory("old-schema").toString + "/table"
    val st = new ChunkStore(spark, dir)
    st.insert(Seq(mkChunk("/a/x.md", 0, "legacy row")).toDF()
      .drop("fileTitle", "contentHash"))
    val row = st.read().collect().head
    assert(row.getAs[String]("text") === "legacy row")
    assert(row.getAs[String]("fileTitle") === null)
    assert(row.getAs[String]("contentHash") === null)
  }

  test("schema migration round trip: mutating an old table migrates it in place") {
    // upsert into a pre-migration table: legacy rows survive with null new
    // columns, the new file's rows carry them, and the REWRITTEN table is
    // current-schema parquet (the additive migration happens on first write,
    // reference ensureSchemaVersion, vectordb/index.ts:289-307)
    val dir = Files.createTempDirectory("old-schema-rt").toString + "/table"
    // two files of one bucket: the upsert rewrites the whole table
    val Seq(x, y) = sameBucket("/a/f", 2)
    val st = new ChunkStore(spark, dir)
    st.insert(Seq(mkChunk(x, 0, "legacy row"), mkChunk(y, 0, "other legacy"))
      .toDF().drop("fileTitle", "contentHash"))
    assert(!spark.read.parquet(st.read().inputFiles: _*).columns.contains("contentHash"))
    st.upsertFile(x, Seq(mkChunk(x, 0, "migrated row")).toDF())
    // physical schema of the rewritten table now includes the new columns
    assert(spark.read.parquet(st.read().inputFiles: _*).columns.contains("contentHash"))
    val rows = st.read().collect().map(r => r.getAs[String]("filePath") -> r).toMap
    assert(rows(x).getAs[String]("text") === "migrated row")
    assert(rows(x).getAs[String]("contentHash") === "h")
    assert(rows(y).getAs[String]("contentHash") === null) // untouched legacy
    // hashless rows are never "converged": the manifest exposes the null
    // for sync to classify as dirty (SyncPlannerSpec pins the classification)
    val manifest = st.manifest().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(manifest(y) === null)
  }

  test("optimize compacts fragmented directories; vacuum drops aged unreferenced data, keeps fresh") {
    val root = Files.createTempDirectory("compact")
    val base = root.toString + "/table"
    val st = new ChunkStore(spark, base)
    // 6 separate inserts of the same file set → the table accumulates at
    // least one parquet fragment per insert
    // four files of one bucket: compaction leaves one file
    val files = sameBucket("/corpus/doc", 4)
    (0 until 6).foreach { gen =>
      st.insert(files.map(f => mkChunk(f, gen, s"gen $gen of $f")).toDF())
    }
    def fragments(): Int = st.read().inputFiles.length
    assert(fragments() >= 6, "inserts should fragment the table")
    val beforeRows = st.read().orderBy("filePath", "chunkIndex").collect()
    val data = new java.io.File(base, "data")
    def live(): Set[String] =
      st.read().inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName).toSet

    // every directory ages past the retention window, and two orphans (a
    // crashed writer's directories: no version references them) are
    // planted, one stale and one fresh
    val hourAgo = System.currentTimeMillis() - 3600 * 1000L
    data.listFiles().foreach(_.setLastModified(hourAgo))
    val stale = new java.io.File(data, "chunks-orphan-stale")
    stale.mkdirs()
    stale.setLastModified(hourAgo)
    val fresh = new java.io.File(data, "chunks-orphan-fresh")
    fresh.mkdirs()
    val superseded = live()

    st.optimize(maxFragments = 2)
    assert(fragments() === 1, "one file after compaction")
    assert(st.read().orderBy("filePath", "chunkIndex").collect() === beforeRows)
    // the compaction's vacuum: the previous version (the 6 directories)
    // stays readable, the stale orphan goes, the fresh one (a possible
    // in-flight writer) stays
    assert(!stale.exists, "stale unreferenced directory swept")
    assert(fresh.exists, "fresh unreferenced directory (possible in-flight write) kept")
    assert(superseded.forall(d => new java.io.File(data, d).exists),
      "the previous version's directories stay for in-flight readers")
    assert(new java.io.File(base, "_log").list().count(_.endsWith(".json")) === ChunkStore.KeepVersions)
    // KeepVersions - 1 more commits drop the previous version, the last one
    // that names them: their aged directories go
    st.deleteFile(files.head)
    (2 until ChunkStore.KeepVersions).foreach(gen =>
      st.upsertFile(files(1), Seq(mkChunk(files(1), 0, s"gen 6.$gen of ${files(1)}")).toDF()))
    assert(superseded.forall(d => !new java.io.File(data, d).exists),
      "directories no kept version references are swept once aged")
    assert(st.read().select("filePath").distinct().count() === 3L)
  }

  // ---- search semantics (reference vectordb.test.ts behavioral contracts) ----

  private def scoreLadder(scores: Seq[Double]): org.apache.spark.sql.DataFrame =
    scores.zipWithIndex.map { case (s, i) => (s"/f$i.md", i, s) }
      .toDF("filePath", "chunkIndex", "score")

  test("grouping: one clear gap — similar cuts at boundary, related keeps all") {
    val ladder = scoreLadder(Seq(0.10, 0.11, 0.12, 0.50, 0.52))
    val similar = HybridSearch.applyGrouping(ladder, "similar", tiebreak = Seq("filePath"))
      .select("score").as[Double].collect().sorted
    assert(similar === Array(0.10, 0.11, 0.12))
    val related = HybridSearch.applyGrouping(ladder, "related", tiebreak = Seq("filePath"))
    assert(related.count() === 5)
  }

  test("grouping: two gaps — related cuts at second boundary; similar subset of related") {
    // enough small gaps that mean + 1.5·sd stays below the two jumps
    val groupA = (0 until 10).map(i => 0.10 + i * 0.002)
    val groupB = (0 until 3).map(i => 0.42 + i * 0.002)
    val groupC = (0 until 2).map(i => 0.72 + i * 0.002)
    val ladder = scoreLadder(groupA ++ groupB ++ groupC)
    val similar = HybridSearch.applyGrouping(ladder, "similar", tiebreak = Seq("filePath"))
      .select("score").as[Double].collect().toSet
    val related = HybridSearch.applyGrouping(ladder, "related", tiebreak = Seq("filePath"))
      .select("score").as[Double].collect().toSet
    assert(similar === groupA.toSet)
    assert(related === (groupA ++ groupB).toSet)
    assert(similar.subsetOf(related))
  }

  test("grouping: no significant gap keeps everything") {
    // alternating 0.025/0.015 gaps: sd stays small but threshold > max gap
    val ladder = scoreLadder(Seq(0.10, 0.125, 0.14, 0.165, 0.18))
    assert(HybridSearch.applyGrouping(ladder, "similar", tiebreak = Seq("filePath")).count() === 5)
  }

  test("driver-side stages refuse a corpus-sized input: a 41-row frame fails the tail bound") {
    val ladder = scoreLadder((0 until 41).map(_ * 0.01))
    val e = intercept[IllegalArgumentException](
      HybridSearch.applyGrouping(ladder, "related", tiebreak = Seq("filePath")))
    assert(e.getMessage.contains("hybrid_tail materialized 41 driver rows — above its bound 40"),
      e.getMessage)
  }

  test("keyword boost: monotone (boosted <= score), no-match unchanged") {
    val vec = scoreLadder(Seq(0.2, 0.3, 0.4))
    val fts = Seq(("/f0.md", 0, 2.0), ("/f1.md", 1, 1.0))
      .toDF("filePath", "chunkIndex", "bm25")
    val out = HybridSearch.applyKeywordBoost(vec, fts, Seq("filePath", "chunkIndex"), 0.6)
      .select("filePath", "score", "boosted").as[(String, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out("/f0.md")._2 < out("/f0.md")._1) // matched => boosted (smaller)
    assert(out("/f2.md")._2 === out("/f2.md")._1) // no match => unchanged
    assert(out.values.forall { case (s, b) => b <= s })
    // weight 0 => pure vector order preserved
    val w0 = HybridSearch.applyKeywordBoost(vec, fts, Seq("filePath", "chunkIndex"), 0.0)
      .select("score", "boosted").as[(Double, Double)].collect()
    assert(w0.forall { case (s, b) => b === s })
  }

  test("file filter: keeps all chunks of top-N files by best score") {
    val rows = Seq(
      ("/a.md", 0, 0.1), ("/a.md", 1, 0.9),
      ("/b.md", 0, 0.2), ("/c.md", 0, 0.3)).toDF("filePath", "chunkIndex", "boosted")
    val kept = HybridSearch.applyFileFilter(rows, "filePath", maxFiles = 2)
      .select("filePath").as[String].collect().toSet
    assert(kept === Set("/a.md", "/b.md")) // a best=0.1, b=0.2; c dropped
    // maxFiles >= distinct files is a no-op
    assert(HybridSearch.applyFileFilter(rows, "filePath", 5).count() === 4)
  }

  test("vector top-k: self-match scores ~0 and ranks first") {
    val texts = Seq("spark join table", "stream window agg", "pasta tomato basil")
    val chunks = texts.zipWithIndex.map { case (t, i) => mkChunk(s"/d$i.md", 0, t) }.toDF()
    val qv = typedLit(embedder.embed("spark join table").toSeq)
    val top = VectorSearch.topK(chunks, qv, 3, tiebreak = Seq("filePath"))
      .select("filePath", "score").as[(String, Double)].collect()
    assert(top.head._1 === "/d0.md")
    assert(math.abs(top.head._2) < 1e-6)
    assert(top.map(_._2).toSeq === top.map(_._2).toSeq.sorted)
  }

  test("bm25: more occurrences of a rarer term ranks higher; absent term scores nothing") {
    val docs = Seq(
      (0, "spark spark spark common common"),
      (1, "spark common common common common"),
      (2, "common common common common common")).toDF("doc_id", "text")
    val scores = Bm25.score(docs, Seq("doc_id"), Bm25.wordTokens($"text"), Seq("spark"))
      .as[(Int, Double)].collect().toMap
    assert(scores(0) > scores(1))
    assert(!scores.contains(2))
  }

  test("hybrid search end-to-end obeys limit bounds") {
    val chunks = (0 until 30).map(i => mkChunk(s"/f$i.md", 0, s"text number $i spark data"))
      .toDF()
    val qv = typedLit(embedder.embed("spark data").toSeq)
    intercept[IllegalArgumentException] {
      HybridSearch.search(chunks, qv, HybridSearch.Params(limit = 21))
    }
    val res = HybridSearch.search(chunks, qv,
      HybridSearch.Params(limit = 5, queryTokens = Seq("spark")))
    assert(res.count() <= 5)
  }

  // ---- AnnIndexStore (persisted IVF behind the engine read path) ----

  test("persisted IVF index: probe prunes to nProbe list partitions; recall gated on real embeddings") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("ann-idx").toString + "/ann"
    val st = new graft.store.AnnIndexStore(spark, dir, Seq("vec_id"), "embedding")
    assert(!st.exists && st.rowCount() === 0L)
    st.rebuild(e, nLists = 16)
    assert(st.exists)
    assert(st.rowCount() === e.count())

    // partition pruning: the probe scan carries PartitionFilters on list_id
    // (the 100 TB claim — nProbe/nLists of the corpus read, never all of it)
    val qv0 = e.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0).toArray
    val probePlan = st.probe(qv0, nProbe = 8, k = 10)
      .queryExecution.executedPlan.toString
    assert(probePlan.contains("PartitionFilters: [") && probePlan.contains("list_id"),
      probePlan.take(1500))

    // recall@10 vs the brute-force oracle over several queries (uniform
    // random embeddings — IVF's adversarial case; nProbe=8/16 measures 0.83)
    val recalls = Seq(0L, 7L, 42L).map { q =>
      val qv = e.filter($"vec_id" === q).select("embedding").head().getSeq[Float](0).toArray
      val brute = e
        .withColumn("score", VectorSearch.dotDistance($"embedding", typedLit(qv.toSeq)))
        .orderBy("score", "vec_id").limit(10).select("vec_id").as[Long].collect().toSet
      val ann = st.probe(qv, nProbe = 8, k = 10)
        .select("vec_id").as[Long].collect().toSet
      ann.intersect(brute).size / 10.0
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.8, s"persisted-probe recall@10 $recall < 0.8 at nProbe=8/16")

    // probing ALL lists is exact: identical to brute force, scores included
    val bruteAll = e
      .withColumn("score", VectorSearch.dotDistance($"embedding", typedLit(qv0.toSeq)))
      .orderBy("score", "vec_id").limit(10)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    val annAll = st.probe(qv0, nProbe = 16, k = 10)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    assert(annAll === bruteAll)
  }

  test("centroid stamp: repeat loadCentroids runs ZERO Spark jobs; rebuild invalidates; cache is mutation-proof") {
    // r14 VERDICT ask #3 extended: the centroid table is a pure function
    // of the centroids dir, so after one read the staleness story is the
    // filesystem signature — every probe used to pay a read+sort+collect
    // job for the same k×dim rows
    graft.core.SourceStamp.clear()
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("ann-stamp").toString + "/ann"
    val st = new graft.store.AnnIndexStore(spark, dir, Seq("vec_id"), "embedding")
    st.rebuild(e, nLists = 8)
    def countJobs[A](body: => A): (A, Int) = {
      val (out, rec) = graft.core.Profile.window(spark.sparkContext)(body)
      (out, rec.jobs.size)
    }
    val (c1, _) = countJobs(st.loadCentroids()) // first read warms the stamp
    val (c2, jobsHit) = countJobs(st.loadCentroids())
    assert(jobsHit === 0, s"stamped centroid read scheduled $jobsHit Spark jobs")
    assert(c2.map(_.toSeq).toSeq === c1.map(_.toSeq).toSeq)
    // defensive copy: a caller mutating its rows must not poison the cache
    c2(0)(0) = 12345f
    assert(st.loadCentroids()(0)(0) !== 12345f)
    // a rebuild rewrites the dir → the stamp misses and fresh rows return
    st.rebuild(e, nLists = 4)
    val (c3, jobsMiss) = countJobs(st.loadCentroids())
    assert(jobsMiss > 0, "rebuild must invalidate the centroid stamp")
    assert(c3.length <= 4 && c3.length < c1.length)
  }

  test("persisted SRP index: probe equals the inline bucket scan; radius widens monotonically") {
    val e = graft.core.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("srp-idx").toString + "/srp"
    val st = new graft.store.SrpIndexStore(spark, dir, dim = 64, planes = 8,
      Seq("vec_id"), "embedding")
    st.rebuild(e)
    assert(st.rowCount() === e.count())
    val qv = e.filter($"vec_id" === 0).select("embedding").head().getSeq[Float](0)

    // persisted probe ≡ the inline srpBucket scan (same bucket, same scores)
    val inline = e
      .withColumn("bucket", graft.ops.Similarity.srpBucket("embedding", 64, 8))
      .filter($"bucket" === graft.ops.Similarity.srpBucketScala(qv, 64, 8))
      .withColumn("score", VectorSearch.dotDistance($"embedding", typedLit(qv)))
      .orderBy("score", "vec_id").limit(10)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    val persisted = st.probe(qv, k = 10)
      .select($"vec_id", $"score").as[(Long, Double)].collect().toSeq
    assert(persisted === inline)

    // Hamming radius only ADDS candidates (recall knob, same scan shape)
    val r0 = st.probe(qv, k = 500).select("vec_id").as[Long].collect().toSet
    val r1 = st.probe(qv, k = 500, hammingRadius = 1).select("vec_id").as[Long].collect().toSet
    val r2 = st.probe(qv, k = 500, hammingRadius = 2).select("vec_id").as[Long].collect().toSet
    assert(r0.subsetOf(r1) && r1.subsetOf(r2))
    assert(r1.size > r0.size) // neighbors actually contribute on real data
  }

  test("minhash index: delta candidates equal the full-run pairs touching the batch") {
    import graft.ops.Dedup
    val base = "the quick brown fox jumps over the lazy dog near the old stone " +
      "bridge every single morning while the birds sing in the tall trees"
    // stored corpus: two near-dups (0, 1) and a distinct doc (2);
    // batch: a near-dup of 0/1 (10) and a fresh distinct doc (11)
    val stored = Seq(
      (0L, base), (1L, base + " with extra words"),
      (2L, "completely different content about spark catalyst optimizer rules " +
        "and whole stage code generation for columnar execution plans today")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " again and again"),
      (11L, "unrelated legal boilerplate paragraph concerning limitation of " +
        "liability and governing law in commercial software license agreements")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("mh-idx").toString + "/mh"
    val st = new graft.store.MinhashIndexStore(spark, dir,
      nHashes = 16, bands = 4, rowsPerBand = 4)
    st.rebuild(stored)
    assert(st.exists && st.rowCount() === 3)

    val delta = graft.core.Seam.scoped(seam =>
      st.deltaCandidates(seam, batch).as[(Long, Long)].collect().toSet)
    // ground truth: band the UNION corpus, keep candidate pairs with a batch side
    val union = stored.union(batch)
      .withColumn("ws", Dedup.wordsArray("text"))
      .withColumn("shs", Dedup.wordShingles("ws", 5))
      .filter(size($"shs") > 0)
      .withColumn("hs", Dedup.shingleBaseHashes("shs"))
      .withColumn("sig", Dedup.minhashSignature("hs", 16))
    val fullPairs = Dedup.lshCandidatePairs(
        Dedup.lshBands(union, "doc_id", "sig", 4, 4), "doc_id")
      .as[(Long, Long)].collect().toSet
    val touchingBatch = fullPairs.filter(p => p._1 >= 10L || p._2 >= 10L)
    assert(delta === touchingBatch)
    assert(delta.contains((0L, 10L)) && delta.contains((1L, 10L)))
    assert(!delta.exists(p => p._1 == 11L || p._2 == 11L)) // distinct doc pairs with nothing
    st.drop()
    assert(!st.exists)
  }
}
