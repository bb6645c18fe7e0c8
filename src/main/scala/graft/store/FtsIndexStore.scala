package graft.store

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.search.Bm25

/** Persisted FTS index next to a [[ChunkStore]] — the materialized form of
  * `Bm25.buildIndex`, refreshed once per mutation batch like the
  * reference's FTS refresh inside `optimize()` (S12: "a 100-file sync would
  * otherwise perform 101 compactions", `src/server/index.ts:546-549`).
  * Queries score from stored postings instead of re-tokenizing the corpus.
  *
  * It keeps the chunk store's bucket layout (bucket = `ChunkStore.bucketOf`
  * of the filePath). A version's manifest lists, per bucket:
  *  - one `postings` entry (absent when the bucket has no token): rows
  *    (filePath, chunkIndex, tok, tf, dl) sorted by token, each posting
  *    carrying its document's length, so one postings read answers a
  *    query;
  *  - the bucket's `n_docs.<b>` and `sum_dl.<b>` stats, which
  *    [[corpusStats]] sums with no job;
  *  - `source` entries: the chunk-store entries (qualified paths) the
  *    bucket was built from. Chunk entries are immutable directories, so
  *    equal sources mean equal rows: [[refresh]] rebuilds exactly the
  *    buckets whose chunk entries changed and carries the others by
  *    reference. BM25's document frequencies are counted over every
  *    bucket's postings at query time, so a refresh scores as a full
  *    rebuild does.
  *
  * A version in the earlier table layout (`postings` and `doclens`
  * tables) reads as absent: queries score ad hoc, and the next refresh
  * rebuilds every bucket.
  */
final class FtsIndexStore(spark: SparkSession, path: String) {
  import FtsIndexStore._

  private val log = new StoreLog(spark, path)

  /** `m`, or the empty store when `m` is in the table layout */
  private def readable(m: Manifest): Manifest = if (m.tables.isEmpty) m else Manifest.Empty

  private def latest(): Manifest = readable(log.latest())

  def exists: Boolean = !latest().isEmpty

  /** Brings the index up to the latest version of `store`: rebuilds the
    * buckets whose chunk entries differ from the ones recorded, in one
    * write, and commits; with no bucket changed it commits nothing. */
  def refresh(store: ChunkStore): Unit = {
    val (src, sources) = store.sources()
    val raw = log.latest()
    val built = readable(raw).entries.filter(_.table == Source).groupBy(_.bucket)
    val changed = ChunkStore.AllBuckets.filter(b =>
      sources(b).map(_.path).toSet != built.getOrElse(b, Nil).map(_.path).toSet)
    if (changed.nonEmpty) write(raw, store.read(src, changed), changed, sources)
  }

  /** every bucket rebuilt from `chunks` (filePath, chunkIndex, text; the
    * key unique per row), recording no chunk-store source: the next
    * [[refresh]] rebuilds every bucket */
  def rebuild(chunks: DataFrame): Unit =
    write(log.latest(), chunks, ChunkStore.AllBuckets, Map.empty)

  /** The postings of `buckets` from their rows in `chunks`, in one write
    * partitioned by bucket, committed in place of those buckets' entries
    * and stats: each bucket's document count, length sum and posting count
    * are observed metrics of that write. An index left with no entry is
    * dropped. */
  private def write(raw: Manifest, chunks: DataFrame, buckets: Set[Long],
                    sources: Map[Long, Seq[ManifestEntry]]): Unit = {
    val bs = buckets.toSeq.sorted
    val obs = Observation()
    val metrics = bs.flatMap { b =>
      val in = col(ChunkStore.B) === b
      Seq(count(when(in, 1)).as(s"n$b"), sum(when(in, col("dl"))).as(s"dl$b"),
        sum(when(in, size(col("terms")))).as(s"p$b"))
    }
    val keys = Seq("filePath", "chunkIndex", ChunkStore.B)
    val terms = Bm25.docTerms(
      chunks.withColumn(ChunkStore.B, ChunkStore.bucketCol).filter(col(ChunkStore.B).isin(bs: _*)),
      keys, Bm25.wordTokens(col("text")))
    // sorted by token within each task (the write sorts by bucket anyway):
    // a query's `tok IN (…)` then skips the pages of other tokens
    val dirs = log.writeBuckets(Postings,
      Bm25.postings(terms.observe(obs, metrics.head, metrics.tail: _*), keys)
        .sortWithinPartitions(ChunkStore.B, "tok"), ChunkStore.B)
    val m = obs.get
    def long(k: String) = m(k).asInstanceOf[Long]
    val written = dirs.toSeq.sortBy(_._1).map { case (b, dir) =>
      ManifestEntry(Postings, b, dir, null, null, long(s"p$b"))
    }
    val recorded = bs.flatMap(b => sources.getOrElse(b, Nil).map(_.copy(table = Source, bucket = b)))
    val base = readable(raw)
    val next = Manifest(
      entries = base.entries.filterNot(e => buckets(e.bucket)) ++ written ++ recorded,
      stats = base.stats.filterNot { case (k, _) => buckets(k.split('.').last.toLong) } ++
        written.flatMap(e => Seq(s"$NDocs.${e.bucket}" -> long(s"n${e.bucket}"),
          s"$SumDl.${e.bucket}" -> long(s"dl${e.bucket}"))))
    if (!(next.isEmpty && raw.isEmpty)) log.publish(raw, next): Unit
  }

  private def postingsOf(m: Manifest): DataFrame = {
    val dirs = m.entries.filter(_.table == Postings).map(e => log.abs(e.path))
    if (dirs.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), PostingsSchema)
    else spark.read.schema(PostingsSchema).parquet(dirs: _*)
  }

  private def statsOf(m: Manifest): (Long, Long) = {
    def total(key: String) = m.stats.collect { case (k, v) if k.startsWith(s"$key.") => v }.sum
    (total(NDocs), total(SumDl))
  }

  /** the persisted index as a [[Bm25.Index]] (its one-row stats frame is
    * local), for callers that hold an index rather than this store: the
    * registry's hybrid queries pass it to `HybridSearch.search`, and the
    * DataFrame reference scorer [[Bm25.scoreIndexed]] reads it */
  def load(): Option[Bm25.Index] = {
    val m = latest()
    if (m.isEmpty) None
    else {
      val sp = spark
      import sp.implicits._
      Some(Bm25.Index(postingsOf(m), Seq(statsOf(m)).toDF(NDocs, SumDl)))
    }
  }

  /** (n_docs, sum_dl) summed over the latest manifest's buckets — no Spark
    * job. None when the index does not exist. */
  def corpusStats(): Option[(Long, Long)] = {
    val m = latest()
    if (m.isEmpty) None else Some(statsOf(m))
  }

  /** recorded corpus size — the cheap side of the cross-run cache
    * staleness probe (readers compare it against a corpus count). -1 when
    * the index does not exist (never equal to any real corpus count). */
  def nDocs(): Long = corpusStats().fold(-1L)(_._1)

  /** one query's BM25 inputs for the documents of `files` from the
    * persisted index ([[Bm25.queryTerms]]): one postings scan and the
    * stats, both of one version. None when the index does not exist. */
  def queryTerms(queryTokens: Seq[String], files: Seq[String]): Option[Bm25.QueryTerms] = {
    val m = latest()
    if (m.isEmpty) None
    else Some(Bm25.queryTerms(postingsOf(m), queryTokens, files, statsOf(m)))
  }

  def drop(): Unit = log.drop()
}

object FtsIndexStore {
  private val Postings = "postings"
  private val Source = "source"
  private val NDocs = "n_docs"
  private val SumDl = "sum_dl"

  /** a postings file's rows, declared so a read infers nothing */
  private val PostingsSchema = StructType(Seq(
    StructField("filePath", StringType), StructField("chunkIndex", IntegerType),
    StructField("tok", StringType), StructField("tf", LongType), StructField("dl", LongType)))
}
