package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, typedLit}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Engine
import graft.core.{GraftSession, Profile, ScopeMatch}
import graft.embed.HashedEmbedder
import graft.search.{Bm25, HybridSearch}

/** `Engine.queryDocuments` runs the post-top-k stages on the driver; the
  * DataFrame `HybridSearch.search` over the same store must return the same
  * rows, on the IVF route and the exact route, for every parameter the tool
  * takes. The read tools' Spark job counts are pinned too. */
class EngineQuerySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), content.getBytes(StandardCharsets.UTF_8))
  }

  private val topics = Seq("spark shuffle partitions executors", "pasta cooking tomato sauce",
    "quantum physics particle spin", "football match winning goals",
    "garden flowers spring bloom", "database index btree lookup")

  /** one store, two engines over it: the IVF route (threshold 1, half the
    * lists probed) and the exact route (unreachable threshold) */
  private lazy val (root, ivf, exact) = {
    val root = Files.createTempDirectory("engq-root").toString
    val store = Files.createTempDirectory("engq-store").toString + "/chunks"
    for (i <- 0 until 30) {
      val dir = if (i % 3 == 0) "t0" else "t1"
      val body = (0 until 3 + i % 4).map(j =>
        s"${topics((i + j) % 6)} sentence $j of document $i mentions token w$i$j.").mkString(" ")
      write(s"$root/$dir/doc$i.md", s"# Doc $i\n$body")
    }
    val ivf = new Engine(spark, store, Seq(root), annLists = 4, annProbes = 2, annThreshold = 1L)
    assert(ivf.sync().upserted === 30)
    assert(ivf.annIndex.exists && ivf.ftsIndex.exists)
    (root, ivf, new Engine(spark, store, Seq(root), annThreshold = Long.MaxValue))
  }

  private type Out = (String, Int, String, String, Double, Double)

  private def viaEngine(e: Engine, q: String, p: HybridSearch.Params,
                        scope: Seq[String]): Seq[Out] =
    e.queryDocuments(q, limit = p.limit, scope = scope, grouping = p.grouping,
      maxDistance = p.maxDistance, maxFiles = p.maxFiles).collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getDouble(4), r.getDouble(5)))

  /** the Engine's inputs through the DataFrame form: the same candidate
    * route, the persisted index or (when it is gone) the ad-hoc one */
  private def viaDataFrame(e: Engine, ann: Boolean, q: String, p: HybridSearch.Params,
                           scope: Seq[String]): Seq[Out] = {
    val chunks0 = e.store.read()
    val chunks =
      if (scope.isEmpty) chunks0 else chunks0.filter(ScopeMatch.inScope(col("filePath"), scope))
    val qArr = new HashedEmbedder(64).embed(q)
    val tokens = "[a-z0-9]+".r.findAllIn(q.toLowerCase).toSeq.distinct
    val idx = if (tokens.isEmpty) None else e.ftsIndex.load().orElse(Some(Bm25.buildIndex(
      chunks0, Seq("filePath", "chunkIndex"), Bm25.wordTokens(col("text")))))
    val cands =
      if (ann && scope.isEmpty) Some(e.annIndex.probe(qArr, 2, p.limit * 2)) else None
    HybridSearch.search(chunks, typedLit(qArr.toSeq), p.copy(queryTokens = tokens),
      ftsIndex = idx, annCandidates = cands)
      .select("filePath", "chunkIndex", "text", "fileTitle", "score", "boosted")
      .collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3),
        r.getDouble(4), r.getDouble(5)))
  }

  private def assertSame(q: String, p: HybridSearch.Params, scope: Seq[String] = Seq.empty,
                         nonEmpty: Boolean = true): Unit =
    for ((e, ann) <- Seq((ivf, true), (exact, false))) {
      val clue = s"[${if (ann) "ivf" else "exact"}] '$q' $p scope=$scope"
      val got = viaEngine(e, q, p, scope)
      val want = viaDataFrame(e, ann, q, p, scope)
      if (nonEmpty) assert(want.nonEmpty, clue)
      assert(got.map(o => (o._1, o._2, o._3, o._4, o._5)) ===
        want.map(o => (o._1, o._2, o._3, o._4, o._5)), clue)
      got.zip(want).foreach { case (a, b) =>
        assert(math.abs(a._6 - b._6) <= 1e-12, s"$clue boosted ${a._6} vs ${b._6}")
      }
    }

  test("queryDocuments returns the DataFrame search's rows on both routes") {
    val P = HybridSearch.Params()
    val queries = Seq("spark shuffle partitions", "pasta tomato w12 w40 sauce",
      "quantum particle football goals")
    for (q <- queries) {
      assertSame(q, P)
      assertSame(q, P.copy(limit = 3))
      assertSame(q, P.copy(limit = 20))
      assertSame(q, P.copy(grouping = Some("similar")))
      assertSame(q, P.copy(grouping = Some("related")))
      assertSame(q, P.copy(maxFiles = Some(1)))
      assertSame(q, P.copy(maxFiles = Some(2), grouping = Some("related")))
      // a distance threshold inside the candidate range
      val scores = viaEngine(exact, q, P, Seq.empty).map(_._5).sorted
      assertSame(q, P.copy(maxDistance = Some(scores(scores.size / 2))))
      assertSame(q, P.copy(maxDistance = Some(1e-9)), nonEmpty = false)
      assertSame(q, P, scope = Seq(s"$root/t0"))
      assertSame(q, P.copy(maxFiles = Some(2)), scope = Seq(s"$root/t1/doc4.md", s"$root/t0"))
    }
    // no tokens: the FTS stage is skipped, boosted = score
    assertSame("???", P)
    assert(viaEngine(ivf, "???", P, Seq.empty).forall(o => o._5 == o._6))
  }

  test("without a persisted FTS index both forms score with the ad-hoc index") {
    // a store of its own: dropping the index must not reach the other test
    val root = Files.createTempDirectory("engq-adhoc-root").toString
    val store = Files.createTempDirectory("engq-adhoc-store").toString + "/chunks"
    for (i <- 0 until 12)
      write(s"$root/doc$i.md", s"# Doc $i\n${topics(i % 6)} paragraph $i token w$i.")
    val e = new Engine(spark, store, Seq(root))
    e.sync()
    val q = "spark shuffle pasta w3"
    val P = HybridSearch.Params()
    def both() = (viaEngine(e, q, P, Seq.empty), viaDataFrame(e, ann = false, q, P, Seq.empty))
    val (indexed, _) = both()
    e.ftsIndex.drop()
    assert(!e.ftsIndex.exists)
    val (adHoc, want) = both()
    assert(adHoc.map(o => (o._1, o._2, o._5)) === want.map(o => (o._1, o._2, o._5)))
    adHoc.zip(want).foreach { case (a, b) => assert(math.abs(a._6 - b._6) <= 1e-12) }
    // the ad-hoc index carries the same statistics as the persisted one
    assert(adHoc === indexed)
  }

  /** Spark jobs `body` starts, counted in a [[Profile]] window */
  private def countJobs[A](body: => A): (A, Int) = {
    val (out, rec) = Profile.window(spark.sparkContext)(body)
    (out, rec.jobs.size)
  }

  test("warm read calls: query ≤ 6 jobs, neighbors 1, status and a warm listFiles 0") {
    val q = "spark shuffle partitions w12"
    for (e <- Seq(ivf, exact)) {
      e.queryDocuments(q).collect() // warms the stats and schema memos
      val (rows, queryJobs) = countJobs(e.queryDocuments(q).collect())
      assert(rows.nonEmpty)
      info(s"warm plain query: $queryJobs jobs")
      assert(queryJobs <= 6, s"warm plain query ran $queryJobs jobs")
    }
    val doc = s"$root/t1/doc5.md"
    val (nb, nbJobs) = countJobs(ivf.readChunkNeighbors(doc, 0).collect())
    assert(nb.nonEmpty && nb.map(_.getAs[Int]("chunkIndex")).toSeq === nb.map(_.getAs[Int]("chunkIndex")).toSeq.sorted)
    assert(nbJobs === 1, s"readChunkNeighbors ran $nbJobs jobs")
    // status reads the commit's stats; listFiles the catalog memoized on
    // its directory, plus the directory walk
    val (st, stJobs) = countJobs(ivf.status())
    assert(st._2 === 30L)
    assert(stJobs === 0, s"status ran $stJobs jobs")
    ivf.listFiles().collect()
    val (lf, lfJobs) = countJobs(ivf.listFiles().collect())
    assert(lf.length === 30 && lf.forall(_.getAs[Boolean]("ingested")))
    assert(lfJobs === 0, s"a warm listFiles ran $lfJobs jobs")
  }
}
