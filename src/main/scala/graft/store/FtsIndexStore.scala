package graft.store

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.Bm25

/** Persisted FTS index (postings + doc lengths + corpus stats) next to the
  * chunk table — the materialized form of `Bm25.buildIndex`, rebuilt once
  * per mutation batch like the reference's FTS refresh inside `optimize()`
  * (S12: "a 100-file sync would otherwise perform 101 compactions",
  * `src/server/index.ts:546-549`). Queries score from stored postings
  * instead of re-tokenizing the corpus.
  */
final class FtsIndexStore(spark: SparkSession, path: String) {

  private val postingsPath = path + "/postings"
  private val docLensPath = path + "/doclens"
  private val statsPath = path + "/stats"

  private def fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new HPath(statsPath))

  /** atomic directory replace (shared [[DirSwap]] discipline) */
  private def swapInto(target: String, write: String => Unit): Unit =
    DirSwap.swapInto(fs, path, target)(write)

  /** full rebuild from the chunk table (one call per mutation batch).
    * Empty corpus → the index is dropped (queries fall back to ad-hoc
    * scoring). The token lineage is persisted so the three writes
    * tokenize once. */
  def rebuild(chunks: DataFrame): Unit = {
    if (chunks.isEmpty) { drop(); return }
    val idx = Bm25.buildIndex(chunks, Seq("filePath", "chunkIndex"),
      Bm25.wordTokens(col("text")))
    val postings = idx.postings.persist()
    val docLens = idx.docLens.persist()
    val stats = docLens.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    try {
      // postings are laid out TOKEN-SORTED (range-partitioned when the
      // plan lets it, sorted within every file regardless): a query's
      // `tok IN (...)` pushdown then skips row groups by the parquet
      // min/max stats instead of scanning every posting — the difference
      // between a probe that reads the query's tokens and one that reads
      // the whole inverted index. At 100 TB this is the bucketed-by-token
      // postings layout; here range partitioning gives the same skipping.
      swapInto(postingsPath, tmp => postings
        .repartitionByRange(col("tok")).sortWithinPartitions("tok")
        .write.mode(SaveMode.Overwrite).parquet(tmp))
      swapInto(docLensPath, tmp => docLens.write.mode(SaveMode.Overwrite).parquet(tmp))
      // stats last: `exists` keys on stats, so readers only see a complete index
      swapInto(statsPath, tmp => stats.write.mode(SaveMode.Overwrite).parquet(tmp))
    } finally { postings.unpersist(); docLens.unpersist() }
  }

  /** the persisted index as a [[Bm25.Index]] for the DataFrame scorer
    * ([[Bm25.scoreIndexed]]). Schema-memoized opens (Tables.openParquet):
    * each open otherwise pays a footer-read inference job plus driver
    * latency. */
  def load(): Option[Bm25.Index] =
    if (!exists) None
    else Some(Bm25.Index(openPostings(), openDocLens(),
      graft.core.Tables.openParquet(spark, statsPath)))

  private def openPostings(): DataFrame = graft.core.Tables.openParquet(spark, postingsPath)
  private def openDocLens(): DataFrame = graft.core.Tables.openParquet(spark, docLensPath)

  /** (n_docs, sum_dl) from the stats table. Memoized behind the stats
    * dir's filesystem signature ([[graft.core.SourceStamp]]): zero Spark
    * jobs while the index is unchanged; a rebuild rewrites stats and
    * invalidates. None when the index does not exist. */
  def corpusStats(): Option[(Long, Long)] =
    if (!exists) None
    else Some(graft.core.SourceStamp.memo(statsPath, "corpusStats") {
      Bm25.sumStats(spark.read.parquet(statsPath))
    })

  /** recorded corpus size from the stats table — the cheap side of the
    * cross-run cache staleness probe (readers compared this against a
    * corpus count); the memoized [[corpusStats]]. -1 when the index does
    * not exist (never equal to any real corpus count). */
  def nDocs(): Long = corpusStats().fold(-1L)(_._1)

  /** one query's BM25 inputs for the documents of `files` from the
    * persisted index ([[Bm25.queryTerms]] with the memoized stats). Opens
    * only postings and doc lengths: the stats come from [[corpusStats]].
    * None when the index does not exist. */
  def queryTerms(queryTokens: Seq[String], files: Seq[String]): Option[Bm25.QueryTerms] =
    corpusStats().map(stats =>
      Bm25.queryTerms(openPostings(), openDocLens(), queryTokens, files, stats))

  def drop(): Unit = if (fs.exists(new HPath(path))) fs.delete(new HPath(path), true)
}
