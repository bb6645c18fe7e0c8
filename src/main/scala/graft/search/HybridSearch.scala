package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.DriverProbe

/** The hybrid query dataflow of the reference
  * (`src/vectordb/index.ts:339-431`, SURVEY §3.1). Stage order is
  * load-bearing and preserved exactly:
  *
  *   ANN top-(2·limit) → maxDistance filter → relevance-gap grouping (on raw
  *   vector distances, BEFORE boost) → BM25 keyword boost (missing match ⇒
  *   0) → re-sort by boosted → per-file filter (AFTER boost) → final limit.
  *
  * Spark runs only the corpus-scale reads: the candidate top-(2·limit) and
  * one BM25 pass for the query's tokens. Every later stage runs once, as
  * Scala over the ≤ 2·limit ≤ 40 collected rows ([[searchHits]]), for
  * `Engine.queryDocuments` and the registry's [[search]] alike: at that size
  * a Spark window, join or aggregate costs an analysis pass and a job per
  * stage and buys nothing. The stages order rows as Spark does and evaluate
  * Spark's arithmetic in its order (a sequential sum for the gap mean, the
  * Welford updates of `stddev_pop`), so the oracle's window SQL keeps the
  * same rows.
  */
object HybridSearch {

  /** boundary multiplier (reference `src/vectordb/search-filters.ts:10`) */
  val GapStdMultiplier = 1.5
  /** candidate over-fetch (reference `src/vectordb/types.ts:9-10`) */
  val CandidateMultiplier = 2
  /** default hybrid weight (reference `src/vectordb/types.ts:18-19`) */
  val DefaultWeight = 0.6

  final case class Params(
      limit: Int = 10,
      maxDistance: Option[Double] = None,
      weight: Double = DefaultWeight,
      maxFiles: Option[Int] = None,
      grouping: Option[String] = None, // "similar" | "related"
      queryTokens: Seq[String] = Seq())

  /** One row of the driver-side tail — the Engine's output columns.
    * `boosted` equals `score` until [[boostHits]] sets it. */
  final case class Hit(filePath: String, chunkIndex: Int, text: String,
                       fileTitle: String, score: Double, boosted: Double)
  object Hit {
    def apply(filePath: String, chunkIndex: Int, text: String,
              fileTitle: String, score: Double): Hit =
      Hit(filePath, chunkIndex, text, fileTitle, score, score)
  }

  /** Spark's sort order on (key, filePath, chunkIndex): doubles by
    * `SQLOrderingUtil` (-0.0 = 0.0, NaN last), strings by UTF-8 bytes */
  private def sqlOrder(key: Hit => Double): Ordering[Hit] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(key(a), key(b))
    if (c != 0) c
    else {
      val f = UTF8String.fromString(a.filePath).compareTo(UTF8String.fromString(b.filePath))
      if (f != 0) f else Integer.compare(a.chunkIndex, b.chunkIndex)
    }
  }
  private val byScore = sqlOrder(_.score)
  private val byBoosted = sqlOrder(_.boosted)

  /** Relevance-gap grouping (`src/vectordb/search-filters.ts:23-64`): over
    * rows sorted asc by score, gap(i) = score(i+1) - score(i); boundary where
    * gap > mean + 1.5·stddev_pop(gaps); group ordinal = boundaries crossed
    * before the row; `similar` keeps group 0, `related` groups 0-1. Returns
    * the kept rows with their group ordinal, in (score, filePath,
    * chunkIndex) order. */
  def groupHits(hits: Seq[Hit], mode: String): Seq[(Hit, Int)] = {
    val keepGroups = mode match {
      case "similar" => 1
      case "related" => 2
      case other => throw new IllegalArgumentException(s"grouping mode: $other")
    }
    val sorted = hits.sorted(byScore)
    val gaps = sorted.zip(sorted.drop(1)).map { case (a, b) => b.score - a.score }
    // avg: a sequential sum over the gaps, divided by their count;
    // stddev_pop: Spark's central-moment updates, in the same row order
    var sum = 0.0; var n = 0.0; var mean = 0.0; var m2 = 0.0
    gaps.foreach { g =>
      sum += g
      n += 1.0
      val delta = g - mean
      val deltaN = delta / n
      mean += deltaN
      m2 += delta * (delta - deltaN)
    }
    // no gaps ⇒ Spark's stats are null and no row is a boundary
    val threshold =
      if (gaps.isEmpty) Double.PositiveInfinity
      else sum / n + GapStdMultiplier * math.sqrt(m2 / n)
    val groups = gaps.scanLeft(0)((grp, g) => if (g > threshold) grp + 1 else grp)
    sorted.zip(groups).filter(_._2 < keepGroups)
  }

  /** Keyword boost (`src/vectordb/search-filters.ts:121-152`): BM25 scores
    * max-normalized to 0-1, then boosted = score / (1 + norm·weight); rows
    * with no keyword match keep their score (norm 0). `bm25` holds the
    * scores of every keyword-matching document in the hit files (the
    * max-normalisation set), keyed by (filePath, chunkIndex). */
  def boostHits(hits: Seq[Hit], bm25: Map[(String, Int), Double],
                weight: Double): Seq[Hit] = {
    val mx = if (bm25.isEmpty) 0.0 else bm25.values.max
    hits.map { h =>
      val norm = bm25.get((h.filePath, h.chunkIndex)).fold(0.0)(_ / mx)
      h.copy(boosted = h.score / (1.0 + norm * weight))
    }
  }

  /** Top-N-files filter (`src/vectordb/search-filters.ts:76-101`): rank files
    * by their best (lowest) `boosted`, keep all rows of the top `maxFiles`
    * files, in input order. Runs AFTER boost — "should respect the final
    * ranking including keyword boost" (`src/vectordb/index.ts:419-424`). */
  def fileFilterHits(hits: Seq[Hit], maxFiles: Int): Seq[Hit] = {
    val bestPerFile = hits.groupMapReduce(_.filePath)(identity)((a, b) => byBoosted.min(a, b))
    val kept = bestPerFile.values.toSeq.sorted(byBoosted).take(maxFiles).map(_.filePath).toSet
    hits.filter(h => kept(h.filePath))
  }

  /** The post-top-k dataflow over the collected candidate top-(2·limit)
    * rows. `keywordScores` runs the BM25 pass for the hit files (after
    * grouping, as the reference restricts its FTS query) and is called only
    * when there are tokens and rows to boost. */
  def searchHits(candidates: Seq[Hit], p: Params,
                 keywordScores: Seq[String] => Map[(String, Int), Double]): Seq[Hit] = {
    require(p.limit >= 1 && p.limit <= 20, "limit must be in 1..20") // ref: index.ts:346-348
    val inRange = p.maxDistance.fold(candidates)(md => candidates.filter(_.score <= md))
    val grouped = p.grouping.fold(inRange)(m => groupHits(inRange, m).map(_._1))
    val boosted =
      if (p.queryTokens.isEmpty || grouped.isEmpty) grouped
      else boostHits(grouped, keywordScores(grouped.map(_.filePath).distinct), p.weight)
    val filtered = p.maxFiles.fold(boosted)(n => fileFilterHits(boosted, n))
    filtered.sorted(byBoosted).take(p.limit)
  }

  /** rows a driver-side stage collects: the candidates of the largest limit */
  private val TailBound = 20 * CandidateMultiplier
  private val Boosted = StructField("boosted", DoubleType, nullable = false)

  /** One driver-side stage over the rows of `df`: collects them (more than
    * [[TailBound]] fails the [[DriverProbe]] bound instead of reaching the
    * driver), makes row i the [[Hit]] keyed `key(row, i)` (distinct) scored
    * by `scoreCol`, and returns the rows of the hits `stage` keeps, in its
    * order and followed by its `extra` column values, as a local DataFrame. */
  private def onHits(df: DataFrame, scoreCol: String, key: (Row, Int) => (String, Int),
                     extra: Seq[StructField])(stage: Seq[Hit] => Seq[(Hit, Seq[Any])]): DataFrame = {
    val rows = df.limit(TailBound + 1).collect()
    DriverProbe.record("hybrid_tail", rows.length.toLong, TailBound)
    val hits = rows.toSeq.zipWithIndex.map { case (r, i) =>
      val (f, ix) = key(r, i)
      Hit(f, ix, "", "", r.getAs[Double](scoreCol)) -> r
    }
    val rowOf = hits.map { case (h, r) => (h.filePath, h.chunkIndex) -> r }.toMap
    val kept = stage(hits.map(_._1)).map { case (h, vs) =>
      Row.fromSeq(rowOf((h.filePath, h.chunkIndex)).toSeq ++ vs)
    }
    df.sparkSession.createDataFrame(kept.asJava, StructType(df.schema.fields ++ extra))
  }

  /** [[groupHits]] over the rows of `results`, ordered by `scoreCol` and
    * then `tiebreak`; `keepGroupCol` appends the group ordinal as `grp`
    * (BIGINT). */
  def applyGrouping(results: DataFrame, mode: String,
                    scoreCol: String = "score",
                    tiebreak: Seq[String] = Seq(),
                    keepGroupCol: Boolean = false): DataFrame = {
    // Spark sorts the rows, so each hit's chunkIndex is its rank in
    // (score, tiebreak...) order and groupHits keeps that order
    onHits(results.orderBy((col(scoreCol) +: tiebreak.map(col)): _*), scoreCol,
      (_, i) => ("", i),
      if (keepGroupCol) Seq(StructField("grp", LongType, nullable = false)) else Seq())(
      groupHits(_, mode).map { case (h, g) => h -> (if (keepGroupCol) Seq(g.toLong) else Seq()) })
  }

  /** [[boostHits]] over the rows of `vecResults`, appending `boosted`.
    * `joinCols` is the (file, chunk index) key of both inputs; `ftsScores`
    * (key, `bm25`), the max-normalisation set, is collected whole. */
  def applyKeywordBoost(vecResults: DataFrame, ftsScores: DataFrame,
                        joinCols: Seq[String], weight: Double,
                        scoreCol: String = "score"): DataFrame = {
    val Seq(file, index) = joinCols
    val bm25 = ftsScores.select(col(file), col(index), col("bm25")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    onHits(vecResults, scoreCol, (r, _) => (r.getAs[String](file), r.getAs[Int](index)),
      Seq(Boosted))(
      boostHits(_, bm25, weight).map(h => h -> Seq(h.boosted)))
  }

  /** [[fileFilterHits]] over the rows of `results`, ranking the files of
    * `fileCol` (a string column) by their best `scoreCol`. */
  def applyFileFilter(results: DataFrame, fileCol: String, maxFiles: Int,
                      scoreCol: String = "boosted"): DataFrame =
    onHits(results, scoreCol, (r, i) => (r.getAs[String](fileCol), i), Seq())(
      fileFilterHits(_, maxFiles).map(_ -> Seq()))

  /** Full hybrid search over a chunks DataFrame with columns (filePath,
    * chunkIndex, text, vector, ...): [[searchHits]] over the collected
    * candidate top-(2·limit). Returns the kept candidate rows (the input
    * columns and `score`) with `boosted` appended, in (boosted, filePath,
    * chunkIndex) order, as a local DataFrame. `queryVec` is typically a
    * column of a broadcast one-row frame joined upstream, or a literal array.
    * `annCandidates` swaps the exact top-k scan for a persisted ANN index's
    * (filePath, chunkIndex, score) candidates (scope-filtered, ≤ 2·limit
    * rows), broadcast back onto the chunk table. BM25 reads `ftsIndex`, or
    * without one scores `chunks` ad hoc ([[Bm25.adHocTerms]]). */
  def search(chunks: DataFrame, queryVec: Column, p: Params,
             ftsIndex: Option[Bm25.Index] = None,
             annCandidates: Option[DataFrame] = None): DataFrame = {
    require(p.limit >= 1 && p.limit <= 20, "limit must be in 1..20") // ref: index.ts:346-348
    val ids = Seq("filePath", "chunkIndex")
    val candidates = annCandidates match {
      case Some(c) => chunks.join(broadcast(c), ids)
      case None => VectorSearch.topK(chunks, queryVec, p.limit * CandidateMultiplier,
        tiebreak = ids)
    }
    // BM25 with global corpus stats, restricted to the hit files -- the
    // reference's `IN (vector-hit files)` predicate
    // (`src/vectordb/index.ts:395-400`); max-normalization then runs over
    // exactly that restricted set (`search-filters.ts:121-135`)
    def keywordScores(files: Seq[String]): Map[(String, Int), Double] =
      Bm25.scoreTerms(ftsIndex.fold(Bm25.adHocTerms(chunks, p.queryTokens, files))(idx =>
        Bm25.queryTerms(idx.postings, idx.docLens, p.queryTokens, files,
          Bm25.sumStats(idx.stats))), p.queryTokens)
    onHits(candidates, "score",
      (r, _) => (r.getAs[String]("filePath"), r.getAs[Int]("chunkIndex")), Seq(Boosted))(
      searchHits(_, p, keywordScores).map(h => h -> Seq(h.boosted)))
  }
}
