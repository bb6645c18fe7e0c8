package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.search.VectorSearch

/** Persisted IVF ANN index next to the chunk table — the scale twin of the
  * brute-force vector scan behind the SAME query API (reference ANN scan,
  * `src/vectordb/index.ts:352-353`; SURVEY §7 step 7 "swap brute-force top-k
  * behind the same API"). Refresh cadence matches [[FtsIndexStore]]'s, one
  * refresh per mutation batch; here it is a full rebuild, published with
  * one [[StoreLog]] commit.
  *
  * Each version names two tables and carries the row count:
  *  - `assignments` — (idCols…, vector, list_id), partitioned by
  *    list_id. A probe filters `list_id IN (nearest nProbe)` and
  *    reads ONLY those partitions — PartitionFilters on the scan, pinned in
  *    StoreSearchSpec. At 100 TB each list is further splittable; the probe
  *    cost is corpus/nLists · nProbe, independent of total corpus size.
  *  - `centroids` — nLists tiny rows (list_id, centroid); collected driver-
  *    side at probe time to rank lists (µs-scale: nLists ≤ a few hundred).
  *  - stat `n_rows` answers [[rowCount]] without a scan (the Engine's
  *    ANN-vs-brute-force routing reads it per query). */
final class AnnIndexStore(
    spark: SparkSession, path: String,
    idCols: Seq[String] = Seq("filePath", "chunkIndex"),
    vecCol: String = "vector") {

  private val log = new StoreLog(spark, path)

  def exists: Boolean = !log.latest().isEmpty

  /** indexed row count from the latest manifest (no Spark job) */
  def rowCount(): Long = log.latest().stat("n_rows")

  def drop(): Unit = log.drop()

  /** full rebuild: train the coarse quantizer, assign every vector, publish
    * both tables in one commit. Below 2 rows its one count drops the index
    * before any training — the query path falls back to the brute-force
    * scan. `nLists` is clamped to the row count (KMeans cannot seed more
    * centers than points). */
  def rebuild(rows: DataFrame, nLists: Int, seed: Long = 42L): Unit = {
    import spark.implicits._
    // The slim (ids, vector) projection is PERSISTED for the whole train+
    // assign window: KMeans consumes it many times (the distinct-count
    // clamp, k-means|| init sampling, 20 iterations, the final transform),
    // and uncached each pass re-ran the full upstream scan — IngestStress
    // (r16, 100k docs / 1.36M chunks) attributed its only straggler tasks
    // (22-31 s vs p95 0.25 s) to exactly this: `takeSample at KMeans` over
    // the uncached lineage. A/B on that table (a scratch probe main,
    // AnnRebuildProbe, now in git history): fit 13.0-14.5 s uncached →
    // 6.6-9.2 s cached.
    val src = rows.select(idCols.map(col) :+ col(vecCol): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one job that fills the cache (Dataset.count under AQE runs three)
      val n = src.queryExecution.toRdd.count()
      // KMeans needs k >= 2
      if (n < 2L) { drop(); return }
      val base = log.latest()
      val idx = Similarity.buildIvfCols(src, idCols, vecCol,
        math.min(nLists.toLong, n).toInt, seed, rowCount = Some(n))
      val assignments = log.write("assignments", idx.assignments, Seq("list_id"))
      val centroids = log.write("centroids",
        idx.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("list_id", "centroid"))
      // every vector is assigned to one list, so the row count is `n`
      log.publish(base, Manifest(
        tables = Map("assignments" -> Seq(assignments), "centroids" -> Seq(centroids)),
        stats = Map("n_rows" -> n)))
    } finally src.unpersist()
  }

  /** The k×dim centroid table, memoized on its immutable directory: every
    * probe needs it, and without the memo each call was a
    * parquet-read+sort+collect Spark job (at 100 TB scale: a fixed
    * scheduling barrier per query answering what a manifest read answers).
    * The cached rows are defensively cloned — callers may mutate their
    * copy. */
  def loadCentroids(): Array[Array[Float]] = centroidsOf(log.latest()).map(_.clone())

  private def centroidsOf(m: Manifest): Array[Array[Float]] = {
    val dir = log.abs(m.dirs("centroids").head)
    StoreLog.memo(s"centroids@$dir") {
      spark.read.parquet(dir).orderBy("list_id")
        .collect().map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    }
  }

  /** ANN top-k: rank centroids by distance to the query (driver-side, tiny),
    * read ONLY the nearest `nProbe` list partitions, brute-force rerank
    * within them. Scores are the same dot-distance expression as the
    * brute-force path — the two paths return identical values on the rows
    * they share. */
  def probe(queryVec: Array[Float], nProbe: Int, k: Int): DataFrame = {
    val m = log.latest()
    require(!m.isEmpty, s"$path: no ANN index to probe")
    def dist2(c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - queryVec(i); s += d * d; i += 1 }
      s
    }
    val lists = centroidsOf(m).zipWithIndex
      .sortBy { case (c, i) => (dist2(c), i) }.take(nProbe).map(_._2)
    // read only the probed lists' directories: listing cost follows
    // nProbe, never the index size; the isin stays as the (now
    // trivially-true) partition filter PlanSpec pins
    log.prunedPartitionRead(log.abs(m.dirs("assignments").head), "list_id", lists)
      .filter(col("list_id").isin(lists.map(Integer.valueOf).toSeq: _*))
      .withColumn("score", VectorSearch.dotDistance(col(vecCol), typedLit(queryVec.toSeq)))
      .orderBy(col("score") +: idCols.map(col): _*)
      .limit(k)
      .select(idCols.map(col) :+ col("score"): _*)
  }
}
