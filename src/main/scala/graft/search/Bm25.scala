package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** BM25 keyword scoring over a postings DataFrame — the Spark-native
  * replacement for the reference's LanceDB/Tantivy FTS index
  * (`src/vectordb/index.ts:258-271,402-407`, SURVEY §2.9).
  *
  * Two tokenizers:
  *  - [[wordTokens]]: lowercase alphanumeric words (classic BM25);
  *  - [[ngramTokens]]: positional character 2–3-grams, the reference's
  *    CJK-safe FTS tokenizer `ngram(min=2, max=3, prefixOnly=false)`
  *    (`src/vectordb/index.ts:262-269`). Overlapping positions all count.
  *
  * k1/b default to the Tantivy/Lucene values (k1=1.2, b=0.75); idf is the
  * Lucene BM25 form ln(1 + (N - df + 0.5)/(df + 0.5)), which is what
  * Tantivy implements.
  *
  * Scale shape: postings are (id, token, tf) — built by explode + groupBy
  * (one shuffle, map-side combined). At query time only the query's tokens
  * survive the filter (predicate pushdown), the per-token df aggregate is
  * tiny and broadcast, and the per-doc sum is a shuffle on ids that have at
  * least one matching token — never the full corpus.
  */
object Bm25 {

  final case class Params(k1: Double = 1.2, b: Double = 0.75)

  def wordTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z0-9]+"), lit(0))

  /** all positional n-grams of column `textColName` for n in [minN, maxN] */
  def ngramTokens(textColName: String, minN: Int = 2, maxN: Int = 3): Column = {
    val grams = (minN to maxN).map { n =>
      // positions 1 .. len-n+1; sequence(1,0) would be invalid → greatest
      expr(s"""CASE WHEN length($textColName) >= $n THEN
              |  transform(sequence(1, length($textColName) - ${n - 1}),
              |            i -> substring($textColName, i, $n))
              |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin)
    }
    concat(grams: _*)
  }

  /** (idCols..., tok, tf) postings from a tokens column */
  def postings(docs: DataFrame, idCols: Seq[String], tokens: Column): DataFrame =
    docs.select(idCols.map(col) :+ explode(tokens).as("tok"): _*)
      .groupBy(idCols.map(col) :+ col("tok"): _*).agg(count(lit(1)).as("tf"))

  /** A prebuilt FTS index: token postings, per-doc lengths, corpus stats.
    * This is the batch-index-build shape (BASELINE's "batch index build via
    * DataFrame ops"): all three are plain DataFrames, persistable as parquet
    * next to the chunk table and incrementally rebuildable per upsert batch.
    * [[graft.store.FtsIndexStore]] persists the postings range-partitioned
    * by `tok` and sorted within each file: the precondition for min/max
    * skipping on a query's tokens, though at engine sizes the ranges
    * coalesce into one file and a lookup still scans every posting. */
  final case class Index(postings: DataFrame, docLens: DataFrame, stats: DataFrame)

  /** build the (postings, docLens, stats) index for a corpus */
  def buildIndex(docs: DataFrame, idCols: Seq[String], tokens: Column): Index = {
    val idc = idCols.map(col)
    val toks = docs.select(idc :+ explode(tokens).as("tok"): _*)
    val postings = toks.groupBy(idc :+ col("tok"): _*).agg(count(lit(1)).as("tf"))
    // doc length = Σtf over the doc's postings — derived FROM postings
    // instead of a second groupBy over the raw token stream, so the
    // tokenize+explode of the corpus is evaluated once, not twice (the
    // r16 ANN-rebuild lineage lesson on the FTS path). Identical values:
    // both shapes drop zero-token docs through the same explode. When
    // postings is persisted (store rebuild) dl reads the cache; in one
    // ad-hoc plan the shared postings exchange is ReusedExchange-deduped.
    val dl = postings.groupBy(idc: _*).agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    Index(postings, dl, stats)
  }

  /** BM25 scores for `queryTokens` from a prebuilt index, as a lazy
    * DataFrame: only the query's postings survive the filter
    * (pushdown-friendly), per-token df is a tiny broadcast, and the per-doc
    * sum shuffles only matching docs. The registry queries use this form
    * through [[HybridSearch.search]]; `Engine.queryDocuments` collects the
    * same inputs with [[queryTerms]] and scores them with [[scoreTerms]]. */
  def scoreIndexed(idx: Index, idCols: Seq[String], queryTokens: Seq[String],
                   p: Params = Params()): DataFrame = {
    val idc = idCols.map(col)
    val tf = idx.postings.filter(col("tok").isin(queryTokens: _*))
    val dfreq = tf.groupBy("tok")
      .agg(countDistinct(concat_ws(" ", idc: _*)).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .join(idx.docLens, idCols)
      .crossJoin(broadcast(idx.stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("w",
        col("idf") * (col("tf") * (p.k1 + 1.0)) /
          (col("tf") + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * col("dl") / col("avgdl"))))
      .groupBy(idc: _*).agg(sum("w").as("bm25"))
  }

  /** One query's BM25 inputs, collected to the driver: corpus stats, each
    * query token's global document frequency, the (doc, token, tf)
    * postings of the documents to score, and those documents' lengths. */
  final case class QueryTerms(nDocs: Long, sumDl: Long, df: Map[String, Long],
                              postings: Seq[((String, Int), String, Long)],
                              docLens: Map[(String, Int), Long])

  /** (n_docs, sum_dl) summed over the rows of a stats table — one row, or
    * one per path bucket; an empty corpus's null sum counts as 0 */
  def sumStats(stats: DataFrame): (Long, Long) =
    stats.select("n_docs", "sum_dl").collect().foldLeft((0L, 0L)) { case ((n, s), r) =>
      (n + r.getLong(0), s + (if (r.isNullAt(1)) 0L else r.getLong(1)))
    }

  /** The query's BM25 inputs for the documents of `files`, in two Spark
    * jobs over the (filePath, chunkIndex)-keyed postings and doc-length
    * tables of an [[Index]]: one postings scan
    * filtered to the query's tokens that counts each token's global df and
    * keeps the postings inside `files`, then the doc lengths of the matched
    * documents. `stats` is (n_docs, sum_dl). Both collects are bounded: the
    * matched postings by the tokens times the matched documents
    * ([[graft.core.DriverProbe]]). */
  def queryTerms(postingTable: DataFrame, docLenTable: DataFrame,
                 queryTokens: Seq[String], files: Seq[String],
                 stats: (Long, Long)): QueryTerms = {
    val tokens = queryTokens.distinct
    val fileSet = files.toSet
    val parts = postingTable.filter(col("tok").isin(tokens: _*))
      .select(col("tok"), col("filePath"), col("chunkIndex"), col("tf").cast("long"))
      .rdd.mapPartitions { rows =>
        val df = scala.collection.mutable.HashMap.empty[String, Long]
        val kept = Vector.newBuilder[((String, Int), String, Long)]
        rows.foreach { r =>
          val (tok, file) = (r.getString(0), r.getString(1))
          df(tok) = df.getOrElse(tok, 0L) + 1L
          if (fileSet(file)) kept += (((file, r.getInt(2)), tok, r.getLong(3)))
        }
        Iterator((df.toMap, kept.result()))
      }.collect()
    val df = parts.flatMap(_._1).groupMapReduce(_._1)(_._2)(_ + _)
    val postings = parts.toSeq.flatMap(_._2)
    val docs = postings.map(_._1).distinct
    val docLens =
      if (docs.isEmpty) Map.empty[(String, Int), Long]
      else {
        val wanted = docs.groupMap(_._1)(_._2).map { case (f, ixs) =>
          col("filePath") === f && col("chunkIndex").isin(ixs: _*)
        }.reduce(_ || _)
        docLenTable.filter(wanted).select("filePath", "chunkIndex", "dl").collect()
          .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      }
    graft.core.DriverProbe.record("query_keyword_postings", postings.size.toLong,
      tokens.size.toLong * docLens.size)
    QueryTerms(stats._1, stats._2, df, postings, docLens)
  }

  /** BM25 per document from collected [[QueryTerms]] — the arithmetic of
    * [[scoreIndexed]] evaluated in the same order (StrictMath.log, as
    * Spark's `log`), with each document's terms summed in query-token
    * order. Documents without a length row score nothing, as the inner
    * join drops them there. */
  def scoreTerms(t: QueryTerms, queryTokens: Seq[String],
                 p: Params = Params()): Map[(String, Int), Double] = {
    val avgdl = t.sumDl.toDouble / t.nDocs.toDouble
    val order = queryTokens.distinct.zipWithIndex.toMap
    t.postings.filter(x => t.docLens.contains(x._1)).groupBy(_._1).map { case (doc, ps) =>
      val dl = t.docLens(doc).toDouble
      doc -> ps.sortBy(x => order(x._2)).foldLeft(0.0) { case (acc, (_, tok, tf0)) =>
        val dfq = t.df(tok)
        val idf = StrictMath.log(1.0 + ((t.nDocs - dfq) + 0.5) / (dfq + 0.5))
        val tf = tf0.toDouble
        acc + idf * (tf * (p.k1 + 1.0)) /
          (tf + p.k1 * ((1.0 - p.b) + p.b * dl / avgdl))
      }
    }
  }

  /** BM25 scores computed corpus-in, index-out-of-line: statistics (N,
    * avgdl, df) always come from the FULL `docs` input -- callers
    * restricting results to a file subset (hybrid search) must filter the
    * OUTPUT, matching the reference where Tantivy scores with global stats
    * and the `IN (files)` predicate only restricts which rows come back
    * (`src/vectordb/index.ts:395-407`). */
  def score(docs: DataFrame, idCols: Seq[String], tokens: Column,
            rawQueryTokens: Seq[String], p: Params = Params()): DataFrame = {
    // Match scoreIndexed's semantics at the edges: duplicate query tokens
    // score once (the indexed path's isin() dedupes), and an empty query
    // returns an empty result instead of throwing on the empty reduce.
    val queryTokens = rawQueryTokens.distinct
    if (queryTokens.isEmpty)
      return docs.select(idCols.map(col): _*).where(lit(false))
        .withColumn("bm25", lit(0.0))
    // ad-hoc path, single-pass: the query's tokens are known statically, so
    // per-token tf pivots into the SAME map-side-combined groupBy that
    // computes doc length — one tokenize, one explode, one shuffle carrying
    // (id, dl, tf_0..tf_k). Corpus stats AND per-token document frequencies
    // then collapse into ONE broadcast row. (The previous shape tokenized
    // and exploded the corpus twice — once for lengths, once for postings —
    // and paid a second shuffle joining them back.)
    val idc = idCols.map(col)
    val toks = docs.select(idc :+ explode(tokens).as("tok"): _*)
    val tfCols = queryTokens.zipWithIndex.map { case (t, i) =>
      sum(when(col("tok") === t, 1L).otherwise(0L)).as(s"_tf$i")
    }
    val perDoc = toks.groupBy(idc: _*)
      .agg(count(lit(1)).as("dl"), tfCols: _*)
    val statCols = Seq(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")) ++
      queryTokens.indices.map(i =>
        sum(when(col(s"_tf$i") > 0, 1L).otherwise(0L)).as(s"_df$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val w = queryTokens.indices.map { i =>
      val tf = col(s"_tf$i").cast("double")
      val dfq = col(s"_df$i")
      val idf = log(lit(1.0) + (col("n_docs") - dfq + 0.5) / (dfq + 0.5))
      // tf = 0 ⇒ the term is 0, matching the postings form where absent
      // tokens simply contribute no row to the per-doc sum
      idf * (tf * (p.k1 + 1.0)) /
        (tf + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl") / col("n_docs"))
      .filter(queryTokens.indices.map(i => col(s"_tf$i")).reduce(_ + _) > 0)
      .withColumn("bm25", w)
      .select(idc :+ col("bm25"): _*)
  }
}
