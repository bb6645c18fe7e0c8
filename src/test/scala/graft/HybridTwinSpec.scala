package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.search.HybridSearch
import graft.search.HybridSearch.Hit

/** The driver-side hybrid tail (`groupHits`, `boostHits`,
  * `fileFilterHits`) against an independent reference: each stage's oracle
  * SQL from the registry queries that check it against DuckDB (`v_grouping`'s
  * lead / `stddev_pop` / running-boundary grouping, `q_hybrid`'s boost
  * formula, `q_file_filter`'s `dense_rank`), run with `spark.sql` over the
  * candidate set as a temp view. Seeded random candidate sets plus the edge
  * cases: ties, one row, equal gaps, an empty set, no keyword hits. Rows and
  * group ordinals must match exactly; boosted scores within 1e-12. */
class HybridTwinSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(2)

  /** `hits` as the temp view `c(filePath, chunkIndex, score, boosted)` */
  private def view(name: String, hits: Seq[Hit]): Unit = {
    val sp = spark
    import sp.implicits._
    hits.map(h => (h.filePath, h.chunkIndex, h.score, h.boosted))
      .toDF("filePath", "chunkIndex", "score", "boosted").createOrReplaceTempView(name)
  }

  private def sql(q: String): DataFrame = spark.sql(q.stripMargin)

  /** a candidate set of `n` rows over a few files; `tied` draws scores
    * from a small set so ties and equal gaps are common */
  private def candidates(rnd: scala.util.Random, n: Int, tied: Boolean): Seq[Hit] = {
    val files = Seq("/d/a.md", "/d/b.md", "/d/B.md", "/d/é.md", "/e/x.txt")
    Seq.fill(n)((files(rnd.nextInt(files.size)), rnd.nextInt(400))).distinct.map {
      case (f, i) =>
        val s = if (tied) rnd.nextInt(6) * 0.125 else rnd.nextDouble() * 1.2
        Hit(f, i, s"text $i", "title", s)
    }
  }

  private def checkGrouping(hits: Seq[Hit], clue: String): Unit = {
    view("c", hits)
    for ((mode, keep) <- Seq("similar" -> 1, "related" -> 2)) {
      val local = HybridSearch.groupHits(hits, mode)
        .map { case (h, g) => (h.filePath, h.chunkIndex, h.score, g.toLong) }
      // v_grouping's oracle, over (score, filePath, chunkIndex) order
      val want = sql(
        s"""WITH g AS (SELECT filePath, chunkIndex, score,
           |    lead(score) OVER (ORDER BY score, filePath, chunkIndex) - score AS gap FROM c),
           |st AS (SELECT avg(gap) AS m, stddev_pop(gap) AS sd FROM g WHERE gap IS NOT NULL),
           |b AS (SELECT filePath, chunkIndex, score,
           |    CASE WHEN gap > m + 1.5 * sd THEN 1 ELSE 0 END AS boundary FROM g, st),
           |k AS (SELECT filePath, chunkIndex, score,
           |    coalesce(sum(boundary) OVER (ORDER BY score, filePath, chunkIndex
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp FROM b)
           |SELECT filePath, chunkIndex, score, grp::BIGINT AS grp
           |FROM k WHERE grp < $keep ORDER BY score, filePath, chunkIndex""")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3))).toSeq
      assert(local === want, s"$clue grouping $mode")
    }
  }

  private def checkBoost(hits: Seq[Hit], bm25: Map[(String, Int), Double],
                         clue: String): Unit = {
    val sp = spark
    import sp.implicits._
    view("c", hits)
    bm25.toSeq.map { case ((f, i), s) => (f, i, s) }.toDF("filePath", "chunkIndex", "bm25")
      .createOrReplaceTempView("fts")
    val local = HybridSearch.boostHits(hits, bm25, 0.6)
      .map(h => (h.filePath, h.chunkIndex, h.boosted)).sortBy(r => (r._1, r._2))
    // q_hybrid's oracle: max-normalized BM25, missing match ⇒ 0
    val want = sql(
      """WITH mx AS (SELECT max(bm25) AS mkw FROM fts)
        |SELECT c.filePath, c.chunkIndex,
        |  c.score / (1.0 + coalesce(fts.bm25 / mx.mkw, 0.0) * 0.6) AS boosted
        |FROM c CROSS JOIN mx
        |LEFT JOIN fts ON c.filePath = fts.filePath AND c.chunkIndex = fts.chunkIndex""")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
      .toSeq.sortBy(r => (r._1, r._2))
    assert(local.map(r => (r._1, r._2)) === want.map(r => (r._1, r._2)), clue)
    local.zip(want).foreach { case (a, b) =>
      assert(math.abs(a._3 - b._3) <= 1e-12, s"$clue boosted ${a._3} vs ${b._3}")
    }
  }

  private def checkFileFilter(hits: Seq[Hit], clue: String): Unit = {
    view("c", hits)
    for (maxFiles <- Seq(1, 2, 3)) {
      val local = HybridSearch.fileFilterHits(hits, maxFiles)
        .map(h => (h.filePath, h.chunkIndex, h.boosted)).sortBy(r => (r._1, r._2))
      // q_file_filter's oracle: files ranked by their best boosted score
      val want = sql(
        s"""WITH best AS (SELECT filePath, min(boosted) AS b FROM c GROUP BY 1),
           |r AS (SELECT filePath, dense_rank() OVER (ORDER BY b, filePath) AS rk FROM best)
           |SELECT c.filePath, c.chunkIndex, c.boosted
           |FROM c JOIN r USING (filePath) WHERE r.rk <= $maxFiles""")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))
        .toSeq.sortBy(r => (r._1, r._2))
      assert(local === want, s"$clue maxFiles $maxFiles")
    }
  }

  test("seeded random candidate sets: the Scala stages keep the oracle SQL's rows") {
    for (seed <- 0 until 20) {
      val rnd = new scala.util.Random(seed)
      val hits = candidates(rnd, 1 + rnd.nextInt(40), tied = seed % 3 == 0)
      checkGrouping(hits, s"seed $seed")
      // BM25 over a subset of the candidates plus matched documents of the
      // hit files outside the candidate set (they move the max)
      val scored = hits.filter(_ => rnd.nextBoolean()).map(h => (h.filePath, h.chunkIndex)) ++
        Seq.fill(3)((hits.head.filePath, 1000 + rnd.nextInt(100)))
      val bm25 = scored.distinct.map(k => k -> (0.1 + rnd.nextDouble() * 5)).toMap
      checkBoost(hits, bm25, s"seed $seed")
      val boosted = HybridSearch.boostHits(hits, bm25, 0.6).map(h =>
        if (seed % 3 == 0) h.copy(boosted = h.score) else h)
      checkFileFilter(boosted, s"seed $seed")
    }
  }

  test("edge cases: one row, equal gaps, ties, empty set, no keyword hits") {
    val one = Seq(Hit("/d/a.md", 0, "t", "a", 0.3))
    checkGrouping(one, "one row")
    checkBoost(one, Map.empty, "one row, no keyword hits")
    checkFileFilter(one, "one row")

    // equal gaps: no gap exceeds mean + 1.5·sd (sd = 0), one group
    val equalGaps = (0 until 8).map(i => Hit(s"/d/f$i.md", i, "t", "f", 0.25 + i * 0.125))
    checkGrouping(equalGaps, "equal gaps")
    assert(HybridSearch.groupHits(equalGaps, "similar").size === 8)

    // one wide gap: similar keeps the first group, related both
    val twoGroups = Seq(0.1, 0.1, 0.125, 0.9, 0.95).zipWithIndex.map { case (s, i) =>
      Hit(s"/d/g${i % 2}.md", i, "t", "g", s) }
    checkGrouping(twoGroups, "two groups")

    // all scores tied: order falls to (filePath, chunkIndex)
    val ties = Seq("/d/b.md", "/d/a.md", "/d/B.md").flatMap(f =>
      Seq(2, 0).map(i => Hit(f, i, "t", "x", 0.5)))
    checkGrouping(ties, "ties")
    checkFileFilter(ties, "ties")
    checkBoost(ties, Map(("/d/a.md", 0) -> 1.0, ("/d/a.md", 9) -> 2.0), "ties boost")

    // empty after maxDistance: every stage keeps nothing
    checkGrouping(Seq.empty, "empty")
    checkBoost(Seq.empty, Map.empty, "empty")
    checkFileFilter(Seq.empty, "empty")
    val p = HybridSearch.Params(limit = 5, maxDistance = Some(0.01), grouping = Some("related"),
      maxFiles = Some(1), queryTokens = Seq("spark"))
    assert(HybridSearch.searchHits(ties, p, _ => fail("no rows left to boost")) === Seq.empty)

    // no keyword hits: boosted = score
    val noKw = HybridSearch.searchHits(equalGaps, p.copy(maxDistance = None, grouping = None,
      maxFiles = None), _ => Map.empty)
    assert(noKw.map(h => (h.filePath, h.boosted)) === equalGaps.take(5).map(h => (h.filePath, h.score)))
  }
}
