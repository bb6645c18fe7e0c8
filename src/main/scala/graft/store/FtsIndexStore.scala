package graft.store

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.search.Bm25

/** Persisted FTS index (postings + doc lengths + per-bucket corpus stats)
  * next to the chunk table — the materialized form of `Bm25.buildIndex`,
  * refreshed once per mutation batch like the reference's FTS refresh inside
  * `optimize()` (S12: "a 100-file sync would otherwise perform 101
  * compactions", `src/server/index.ts:546-549`). Queries score from stored
  * postings instead of re-tokenizing the corpus.
  *
  * With `numBuckets > 0` the index is partitioned by the SAME path-hash
  * bucket as the bucketed ChunkStore, and [[refreshBucket]] re-tokenizes
  * only one bucket — a single-file upsert costs 1/numBuckets of the corpus
  * for BOTH the chunk table and its index, which is what keeps per-document
  * updates cheap at 100 TB. Global BM25 stats stay exact: they are summed
  * from per-bucket partials at load time (tiny: numBuckets rows).
  */
final class FtsIndexStore(spark: SparkSession, path: String, numBuckets: Int = 0) {

  private def bucketed: Boolean = numBuckets > 0
  private val postingsPath = path + "/postings"
  private val docLensPath = path + "/doclens"
  private val statsPath = path + "/stats"

  private def fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new HPath(statsPath))

  private def idCols = Seq("filePath", "chunkIndex")

  private def buildParts(chunks: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val idx = Bm25.buildIndex(chunks, idCols, Bm25.wordTokens(col("text")))
    if (!bucketed) {
      (idx.postings, idx.docLens,
        idx.docLens.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl")))
    } else {
      val bucketCol = pmod(graft.ops.Dedup.hash60(col("filePath")), lit(numBuckets.toLong))
      val statsByBucket = idx.docLens.withColumn("pbucket", bucketCol)
        .groupBy("pbucket")
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
      (idx.postings.withColumn("pbucket", bucketCol),
        idx.docLens.withColumn("pbucket", bucketCol), statsByBucket)
    }
  }

  /** atomic directory replace (shared [[DirSwap]] discipline) */
  private def swapInto(target: String, write: String => Unit): Unit =
    DirSwap.swapInto(fs, path, target)(write)

  /** full rebuild from the chunk table (one call per mutation batch).
    * Empty corpus → the index is dropped (queries fall back to ad-hoc
    * scoring; a bucketed partitionBy write of zero rows would otherwise
    * leave an unreadable postings dir behind a readable stats file).
    * The token lineage is persisted so the three writes tokenize once. */
  def rebuild(chunks: DataFrame): Unit = {
    if (chunks.isEmpty) { drop(); return }
    val (postings0, docLens0, stats) = buildParts(chunks)
    val postings = postings0.persist()
    val docLens = docLens0.persist()
    try {
      // postings are laid out TOKEN-SORTED (range-partitioned when the
      // plan lets it, sorted within every file regardless): a query's
      // `tok IN (...)` pushdown then skips row groups by the parquet
      // min/max stats instead of scanning every posting — the difference
      // between a probe that reads the query's tokens and one that reads
      // the whole inverted index. At 100 TB this is the bucketed-by-token
      // postings layout; here range partitioning gives the same skipping.
      if (bucketed) {
        swapInto(postingsPath,
          tmp => postings.sortWithinPartitions("pbucket", "tok")
            .write.partitionBy("pbucket").mode(SaveMode.Overwrite).parquet(tmp))
        swapInto(docLensPath,
          tmp => docLens.write.partitionBy("pbucket").mode(SaveMode.Overwrite).parquet(tmp))
      } else {
        swapInto(postingsPath, tmp => postings
          .repartitionByRange(col("tok")).sortWithinPartitions("tok")
          .write.mode(SaveMode.Overwrite).parquet(tmp))
        swapInto(docLensPath, tmp => docLens.write.mode(SaveMode.Overwrite).parquet(tmp))
      }
      // stats last: `exists` keys on stats, so readers only see a complete index
      swapInto(statsPath, tmp => stats.write.mode(SaveMode.Overwrite).parquet(tmp))
    } finally { postings.unpersist(); docLens.unpersist() }
  }

  /** incremental refresh of ONE bucket from that bucket's current chunks —
    * requires a bucketed index; stats for the bucket are replaced via a
    * read-modify-write of the tiny stats table */
  def refreshBucket(bucketChunks: DataFrame, bucket: Long): Unit = {
    require(bucketed, "refreshBucket requires a bucketed index")
    val idx = Bm25.buildIndex(bucketChunks, idCols, Bm25.wordTokens(col("text")))
    val postings = idx.postings.persist()
    val docLens = idx.docLens.persist()
    try {
      swapInto(s"$postingsPath/pbucket=$bucket",
        tmp => postings.sortWithinPartitions("tok") // same skip-friendly layout
          .write.mode(SaveMode.Overwrite).parquet(tmp))
      swapInto(s"$docLensPath/pbucket=$bucket",
        tmp => docLens.write.mode(SaveMode.Overwrite).parquet(tmp))
      val bucketStats = docLens
        .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
        .withColumn("pbucket", lit(bucket))
        .select("pbucket", "n_docs", "sum_dl")
      val others =
        if (exists)
          spark.read.parquet(statsPath).filter(col("pbucket") =!= bucket)
            .select("pbucket", "n_docs", "sum_dl").collect().toSeq
        else Seq.empty
      val merged = spark.createDataFrame(
        spark.sparkContext.parallelize(others ++ bucketStats.collect().toSeq),
        bucketStats.schema)
      swapInto(statsPath, tmp => merged.write.mode(SaveMode.Overwrite).parquet(tmp))
    } finally { postings.unpersist(); docLens.unpersist() }
  }

  def load(): Option[Bm25.Index] =
    if (!exists) None
    else {
      // schema-memoized opens (Tables.openParquet): load() runs per query
      // on the indexed-search paths and otherwise pays three footer-read
      // inference jobs (stats, postings, docLens) plus driver latency each
      val rawStats = graft.core.Tables.openParquet(spark, statsPath)
      val stats =
        if (rawStats.columns.contains("pbucket"))
          rawStats.agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
        else rawStats
      Some(Bm25.Index(
        graft.core.Tables.openParquet(spark, postingsPath),
        graft.core.Tables.openParquet(spark, docLensPath),
        stats))
    }

  /** (n_docs, sum_dl) from the stats table, summed over its per-bucket
    * rows when bucketed. Memoized behind the stats dir's filesystem
    * signature ([[graft.core.SourceStamp]]): zero Spark jobs while the index
    * is unchanged; a rebuild/refresh rewrites stats and invalidates. None
    * when the index does not exist. */
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
    * persisted index ([[Bm25.queryTerms]] with the memoized stats); None
    * when the index does not exist */
  def queryTerms(queryTokens: Seq[String], files: Seq[String]): Option[Bm25.QueryTerms] =
    for (idx <- load(); stats <- corpusStats())
      yield Bm25.queryTerms(idx, queryTokens, files, stats)

  def drop(): Unit = if (fs.exists(new HPath(path))) fs.delete(new HPath(path), true)
}
