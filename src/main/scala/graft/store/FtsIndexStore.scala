package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.Bm25

/** Persisted FTS index (postings + doc lengths; the corpus stats ride in
  * the manifest) next to the chunk table — the materialized form of
  * `Bm25.buildIndex`, rebuilt once per mutation batch like the reference's
  * FTS refresh inside `optimize()` (S12: "a 100-file sync would otherwise
  * perform 101 compactions", `src/server/index.ts:546-549`). Queries score
  * from stored postings instead of re-tokenizing the corpus. A rebuild
  * publishes both tables and `(n_docs, sum_dl)` in one [[StoreLog]]
  * commit, and every read resolves one version.
  */
final class FtsIndexStore(spark: SparkSession, path: String) {

  private val log = new StoreLog(spark, path)

  def exists: Boolean = !log.latest().isEmpty

  /** full rebuild from the chunk table (one call per mutation batch).
    * Empty corpus → the index is dropped (queries fall back to ad-hoc
    * scoring). The token lineage is persisted so the two writes and the
    * stats aggregate tokenize once. */
  def rebuild(chunks: DataFrame): Unit = {
    if (chunks.isEmpty) { drop(); return }
    val base = log.latest()
    val idx = Bm25.buildIndex(chunks, Seq("filePath", "chunkIndex"),
      Bm25.wordTokens(col("text")))
    val postings = idx.postings.persist()
    val docLens = idx.docLens.persist()
    try {
      // postings are range-partitioned by token and sorted within each
      // file. At engine sizes AQE coalesces the ranges into one file of
      // one row group, so a query's `tok IN (...)` read still scans every
      // posting: min/max skipping needs bounded row groups too (ROADMAP.md
      // open item 2), which this sort order is the precondition for.
      val postingsDir = log.write("postings", postings
        .repartitionByRange(col("tok")).sortWithinPartitions("tok"))
      val docLensDir = log.write("doclens", docLens)
      val (nDocs, sumDl) = Bm25.sumStats(
        docLens.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")))
      log.publish(base, Manifest(
        tables = Map("postings" -> Seq(postingsDir), "doclens" -> Seq(docLensDir)),
        stats = Map("n_docs" -> nDocs, "sum_dl" -> sumDl)))
    } finally { postings.unpersist(); docLens.unpersist() }
  }

  /** the persisted index as a [[Bm25.Index]] (its one-row stats frame is
    * local), for callers that hold an index rather than this store: the
    * registry's hybrid queries pass it to `HybridSearch.search`, and the
    * DataFrame reference scorer [[Bm25.scoreIndexed]] reads it */
  def load(): Option[Bm25.Index] = {
    val m = log.latest()
    if (m.isEmpty) None
    else {
      val sp = spark
      import sp.implicits._
      Some(Bm25.Index(log.table(m, "postings"), log.table(m, "doclens"),
        Seq((m.stat("n_docs"), m.stat("sum_dl"))).toDF("n_docs", "sum_dl")))
    }
  }

  /** (n_docs, sum_dl) from the latest manifest — no Spark job. None when
    * the index does not exist. */
  def corpusStats(): Option[(Long, Long)] = {
    val m = log.latest()
    if (m.isEmpty) None else Some((m.stat("n_docs"), m.stat("sum_dl")))
  }

  /** recorded corpus size — the cheap side of the cross-run cache
    * staleness probe (readers compare it against a corpus count). -1 when
    * the index does not exist (never equal to any real corpus count). */
  def nDocs(): Long = corpusStats().fold(-1L)(_._1)

  /** one query's BM25 inputs for the documents of `files` from the
    * persisted index ([[Bm25.queryTerms]]): postings, doc lengths and
    * stats all of one version. None when the index does not exist. */
  def queryTerms(queryTokens: Seq[String], files: Seq[String]): Option[Bm25.QueryTerms] = {
    val m = log.latest()
    if (m.isEmpty) None
    else Some(Bm25.queryTerms(log.table(m, "postings"), log.table(m, "doclens"),
      queryTokens, files, (m.stat("n_docs"), m.stat("sum_dl"))))
  }

  def drop(): Unit = log.drop()
}
