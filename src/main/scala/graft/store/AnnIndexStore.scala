package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.search.VectorSearch

/** Persisted IVF ANN index next to the chunk table — the scale twin of the
  * brute-force vector scan behind the SAME query API (reference ANN scan,
  * `src/vectordb/index.ts:352-353`; SURVEY §7 step 7 "swap brute-force top-k
  * behind the same API"). Refresh cadence matches [[FtsIndexStore]]: one
  * full rebuild per mutation batch.
  *
  * Layout under `path/`:
  *  - `assignments/` — (idCols…, vector, list_id), partitioned by
  *    list_id. A probe filters `list_id IN (nearest nProbe)` and
  *    reads ONLY those partitions — PartitionFilters on the scan, pinned in
  *    StoreSearchSpec. At 100 TB each list is further splittable; the probe
  *    cost is corpus/nLists · nProbe, independent of total corpus size.
  *  - `centroids/` — nLists tiny rows (list_id, centroid); collected driver-
  *    side at probe time to rank lists (µs-scale: nLists ≤ a few hundred).
  *  - `stats/` — the row count, written LAST so [[exists]] only ever
  *    observes a complete index; answers [[rowCount]] without a scan
  *    (the Engine's ANN-vs-brute-force routing reads it per query). */
final class AnnIndexStore(
    protected val spark: SparkSession, protected val path: String,
    idCols: Seq[String] = Seq("filePath", "chunkIndex"),
    vecCol: String = "vector") extends StatsLastIndexStore {

  private val assignmentsPath = path + "/assignments"
  private val centroidsPath = path + "/centroids"

  /** full rebuild: train the coarse quantizer, assign every vector, swap all
    * three directories in (stats last). Below max(2, `minRows`) rows its
    * one count drops the index before any training — the query path falls
    * back to the brute-force scan. `nLists` is clamped to the row count
    * (KMeans cannot seed more centers than points). */
  def rebuild(rows: DataFrame, nLists: Int, seed: Long = 42L, minRows: Long = 2L): Unit = {
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
      // KMeans needs k >= 2; below the caller's minimum the query path's
      // brute-force scan serves, so there is nothing to train
      if (n < math.max(2L, minRows)) { drop(); return }
      val idx = Similarity.buildIvfCols(src, idCols, vecCol,
        math.min(nLists.toLong, n).toInt, seed, rowCount = Some(n))
      val assigned = idx.assignments.persist()
      try {
        DirSwap.swapInto(fs, path, assignmentsPath)(tmp =>
          assigned.write.partitionBy("list_id").mode(SaveMode.Overwrite).parquet(tmp))
        DirSwap.swapInto(fs, path, centroidsPath)(tmp =>
          idx.centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
            .toDF("list_id", "centroid")
            .write.mode(SaveMode.Overwrite).parquet(tmp))
        writeStats(assigned)
      } finally assigned.unpersist()
    } finally src.unpersist()
  }

  /** The k×dim centroid table — a pure function of the centroids dir, so
    * it is signature-memoized ([[graft.core.SourceStamp.memo]]): every
    * probe needs it, and without the stamp each call was a
    * parquet-read+sort+collect Spark job (at 100 TB scale: a fixed
    * scheduling barrier per query answering what a manifest read answers).
    * A rebuild rewrites the dir and invalidates the stamp. The cached rows
    * are defensively cloned — callers may mutate their copy. */
  def loadCentroids(): Array[Array[Float]] =
    graft.core.SourceStamp.memo(centroidsPath, "centroids") {
      spark.read.parquet(centroidsPath).orderBy("list_id")
        .collect().map(r => r.getSeq[Float](r.fieldIndex("centroid")).toArray)
    }.map(_.clone())

  /** ANN top-k: rank centroids by distance to the query (driver-side, tiny),
    * read ONLY the nearest `nProbe` list partitions, brute-force rerank
    * within them. Scores are the same dot-distance expression as the
    * brute-force path — the two paths return identical values on the rows
    * they share. */
  def probe(queryVec: Array[Float], nProbe: Int, k: Int): DataFrame = {
    val cents = loadCentroids()
    def dist2(c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - queryVec(i); s += d * d; i += 1 }
      s
    }
    val lists = cents.zipWithIndex
      .sortBy { case (c, i) => (dist2(c), i) }.take(nProbe).map(_._2)
    // read only the probed lists' directories (prunedPartitionRead):
    // listing cost follows nProbe, never the index size; the isin stays
    // as the (now trivially-true) partition filter PlanSpec pins
    prunedPartitionRead(assignmentsPath, "list_id", lists)
      .filter(col("list_id").isin(lists.map(Integer.valueOf).toSeq: _*))
      .withColumn("score", VectorSearch.dotDistance(col(vecCol), typedLit(queryVec.toSeq)))
      .orderBy(col("score") +: idCols.map(col): _*)
      .limit(k)
      .select(idCols.map(col) :+ col("score"): _*)
  }
}
