package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.unsafe.types.UTF8String

/** The hybrid query dataflow of the reference
  * (`src/vectordb/index.ts:339-431`, SURVEY §3.1). Stage order is
  * load-bearing and preserved exactly:
  *
  *   ANN top-(2·limit) → maxDistance filter → relevance-gap grouping (on raw
  *   vector distances, BEFORE boost) → BM25 keyword boost (left join, missing
  *   match ⇒ 0) → re-sort by boosted → per-file filter (AFTER boost) →
  *   final limit.
  *
  * Two forms of the same dataflow, one per caller:
  *  - [[searchHits]], the serving form `Engine.queryDocuments` uses: Spark
  *    runs only the corpus-scale reads (the candidate top-(2·limit) and one
  *    BM25 pass for the query's tokens), and every stage after the top-k
  *    runs as plain Scala over the ≤ 2·limit ≤ 40 collected rows
  *    ([[groupHits]], [[boostHits]], [[fileFilterHits]]). At that size a
  *    Spark window, join or aggregate costs an analysis pass and a job per
  *    stage and buys nothing.
  *  - [[search]], the DataFrame form the registry queries (`q_hybrid*`,
  *    `v_grouping`, `q_file_filter`, `rag_e2e_search`) and their plan pins
  *    use: the whole dataflow as one lazy plan. Its post-top-k windows are
  *    unpartitioned, which is deliberate on the bounded candidate set (the
  *    reference bounds limit to 1..20, `src/vectordb/index.ts:346-348`).
  *
  * The Scala stages are twins of [[applyGrouping]], [[applyKeywordBoost]]
  * and [[applyFileFilter]] — the [[graft.core.ScopeMatch]] pattern: they
  * order rows the way Spark does and evaluate the same arithmetic in the
  * same order (a sequential sum for the gap mean, the Welford updates of
  * Spark's `stddev_pop`), so both forms keep the same rows.
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

  /** Relevance-gap grouping (`src/vectordb/search-filters.ts:23-64`): over
    * rows sorted asc by score, gap(i) = score(i+1) - score(i); boundary where
    * gap > mean + 1.5·stddev_pop(gaps); group ordinal = boundaries crossed
    * before the row; `similar` keeps group 0, `related` groups 0-1.
    * Input is the (≤ 2·limit)-row candidate set. */
  def applyGrouping(results: DataFrame, mode: String,
                    scoreCol: String = "score",
                    tiebreak: Seq[String] = Seq(),
                    keepGroupCol: Boolean = false): DataFrame = {
    val keepGroups = groupsKept(mode)
    // unpartitioned window: input is the bounded (≤ 2·limit) candidate set,
    // so a single window partition is deliberate (WindowExec's degradation
    // warning is silenced in the mains — a constant partition key would be
    // constant-folded away anyway)
    val w = Window.orderBy((col(scoreCol) +: tiebreak.map(col)): _*)
    val gaps = results.withColumn("_gap", lead(col(scoreCol), 1).over(w) - col(scoreCol))
    val stats = gaps.filter(col("_gap").isNotNull)
      .agg(avg("_gap").as("_mean"), stddev_pop(col("_gap")).as("_sd"))
    gaps.crossJoin(broadcast(stats))
      .withColumn("_boundary",
        when(col("_gap") > col("_mean") + lit(GapStdMultiplier) * col("_sd"), 1).otherwise(0))
      .withColumn("_grp",
        coalesce(sum(col("_boundary"))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0)))
      .filter(col("_grp") < keepGroups)
      .withColumn("grp", col("_grp"))
      .drop("_gap", "_mean", "_sd", "_boundary", "_grp")
      .transform(df => if (keepGroupCol) df else df.drop("grp"))
  }

  /** Keyword boost (`src/vectordb/search-filters.ts:121-152`): BM25 scores
    * max-normalized to 0-1, then boosted = score / (1 + norm·weight); rows
    * with no keyword match keep their score (norm 0). */
  def applyKeywordBoost(vecResults: DataFrame, ftsScores: DataFrame,
                        joinCols: Seq[String], weight: Double,
                        scoreCol: String = "score"): DataFrame = {
    val mx = ftsScores.agg(max("bm25").as("_max_kw"))
    vecResults.join(ftsScores, joinCols, "left_outer")
      .crossJoin(broadcast(mx))
      .withColumn("_kw_norm", coalesce(col("bm25") / col("_max_kw"), lit(0.0)))
      .withColumn("boosted", col(scoreCol) / (lit(1.0) + col("_kw_norm") * weight))
      .drop("bm25", "_max_kw", "_kw_norm")
  }

  /** Top-N-files filter (`src/vectordb/search-filters.ts:76-101`): rank files
    * by their best (lowest) score, keep all chunks of the top `maxFiles`
    * files. Runs AFTER boost — "should respect the final ranking including
    * keyword boost" (`src/vectordb/index.ts:419-424`). */
  def applyFileFilter(results: DataFrame, fileCol: String, maxFiles: Int,
                      scoreCol: String = "boosted"): DataFrame = {
    val best = results.groupBy(fileCol).agg(min(scoreCol).as("_best"))
      .withColumn("_rank", dense_rank().over( // bounded input: ≤ 2·limit files
        Window.orderBy(col("_best"), col(fileCol))))
      .filter(col("_rank") <= maxFiles)
      .select(fileCol)
    results.join(broadcast(best), Seq(fileCol), "left_semi")
  }

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

  private def groupsKept(mode: String): Int = mode match {
    case "similar" => 1
    case "related" => 2
    case other => throw new IllegalArgumentException(s"grouping mode: $other")
  }

  /** [[applyGrouping]] over collected rows; returns the kept rows in
    * (score, filePath, chunkIndex) order */
  def groupHits(hits: Seq[Hit], mode: String): Seq[Hit] = {
    val keepGroups = groupsKept(mode)
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
    sorted.zip(groups).collect { case (h, grp) if grp < keepGroups => h }
  }

  /** [[applyKeywordBoost]] over collected rows: `bm25` holds the scores of
    * every keyword-matching document in the hit files (the
    * max-normalisation set), keyed by (filePath, chunkIndex) */
  def boostHits(hits: Seq[Hit], bm25: Map[(String, Int), Double],
                weight: Double): Seq[Hit] = {
    val mx = if (bm25.isEmpty) 0.0 else bm25.values.max
    hits.map { h =>
      val norm = bm25.get((h.filePath, h.chunkIndex)).fold(0.0)(_ / mx)
      h.copy(boosted = h.score / (1.0 + norm * weight))
    }
  }

  /** [[applyFileFilter]] over collected rows (on `boosted`); keeps the
    * input order */
  def fileFilterHits(hits: Seq[Hit], maxFiles: Int): Seq[Hit] = {
    val bestPerFile = hits.groupBy(_.filePath).values.map(_.min(byBoosted)).toSeq
    val kept = bestPerFile.sorted(byBoosted).take(maxFiles).map(_.filePath).toSet
    hits.filter(h => kept(h.filePath))
  }

  /** The post-top-k dataflow of [[search]] over the collected candidate
    * top-(2·limit) rows. `keywordScores` runs the BM25 pass for the hit
    * files (after grouping, as the reference restricts its FTS query) and
    * is called only when there are tokens and rows to boost. */
  def searchHits(candidates: Seq[Hit], p: Params,
                 keywordScores: Seq[String] => Map[(String, Int), Double]): Seq[Hit] = {
    require(p.limit >= 1 && p.limit <= 20, "limit must be in 1..20") // ref: index.ts:346-348
    val inRange = p.maxDistance.fold(candidates)(md => candidates.filter(_.score <= md))
    val grouped = p.grouping.fold(inRange)(m => groupHits(inRange, m))
    val boosted =
      if (p.queryTokens.isEmpty || grouped.isEmpty) grouped
      else boostHits(grouped, keywordScores(grouped.map(_.filePath).distinct), p.weight)
    val filtered = p.maxFiles.fold(boosted)(n => fileFilterHits(boosted, n))
    filtered.sorted(byBoosted).take(p.limit)
  }

  /** Full hybrid search over a chunks DataFrame with columns
    * (filePath, chunkIndex, text, vector, ...). `queryVec` is typically a
    * one-row broadcast column (crossJoin upstream) or a literal array. */
  def search(chunks: DataFrame, queryVec: Column, p: Params,
             fileCol: String = "filePath", indexCol: String = "chunkIndex",
             textColName: String = "text",
             ftsIndex: Option[Bm25.Index] = None,
             annCandidates: Option[DataFrame] = None): DataFrame = {
    require(p.limit >= 1 && p.limit <= 20, "limit must be in 1..20") // ref: index.ts:346-348
    val tiebreak = Seq(fileCol, indexCol)
    // `annCandidates` swaps the exact top-k scan for a precomputed
    // (fileCol, indexCol, score) candidate set from a persisted ANN index
    // (already scope-filtered, ≤ 2·limit rows by construction) — broadcast
    // back onto the chunk table to recover the text/title columns the later
    // stages and the final projection need. Every stage downstream is
    // identical between the two routes.
    val cand0 = annCandidates match {
      case Some(c) => chunks.join(broadcast(c), Seq(fileCol, indexCol))
      case None => VectorSearch.topK(chunks, queryVec, p.limit * CandidateMultiplier,
        scoreCol = "score", tiebreak = tiebreak)
    }
    val cand1 = p.maxDistance.map(md => cand0.filter(col("score") <= md)).getOrElse(cand0)
    val cand2 = p.grouping.map(m => applyGrouping(cand1, m, tiebreak = tiebreak)).getOrElse(cand1)
    val boosted =
      if (p.queryTokens.isEmpty) cand2.withColumn("boosted", col("score"))
      else {
        // BM25 with global corpus stats; results restricted to vector-hit
        // files -- the reference's `IN (vector-hit files)` predicate
        // (`src/vectordb/index.ts:395-400`); max-normalization then runs
        // over exactly that restricted set (`search-filters.ts:121-135`).
        // With no `ftsIndex` (the registry's stateless queries) the
        // postings and stats are recomputed from `chunks` per query.
        // NB: rename the hit-file key before the semi join — hitFiles and
        // ftsAll share lineage (both derive from `chunks`), and a same-name
        // self-join would resolve to a trivially-true condition, silently
        // un-restricting the max-normalization to the whole corpus.
        val hitFiles = cand2.select(col(fileCol).as("_hit_file")).distinct()
        // a prebuilt index (FtsIndexStore) skips per-query corpus
        // tokenization; the ad-hoc path computes the same values inline
        val ftsAll = ftsIndex match {
          case Some(idx) => Bm25.scoreIndexed(idx, Seq(fileCol, indexCol), p.queryTokens)
          case None => Bm25.score(chunks, Seq(fileCol, indexCol),
            Bm25.wordTokens(col(textColName)), p.queryTokens)
        }
        val fts = ftsAll.join(broadcast(hitFiles),
          col(fileCol) === col("_hit_file"), "left_semi")
        applyKeywordBoost(cand2, fts, Seq(fileCol, indexCol), p.weight)
      }
    val reSorted = boosted.orderBy((col("boosted") +: tiebreak.map(col)): _*)
    val filtered = p.maxFiles.map(n => applyFileFilter(reSorted, fileCol, n)).getOrElse(reSorted)
    filtered.orderBy((col("boosted") +: tiebreak.map(col)): _*).limit(p.limit)
  }
}
