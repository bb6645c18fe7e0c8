package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.search.VectorSearch

/** Persisted SRP-LSH ANN index — the hash-oracle-checkable sibling of the
  * IVF [[AnnIndexStore]] (same layout discipline, no trained centroids):
  * every vector's signed-random-projection bucket is a DETERMINISTIC
  * function of the vector (md5-derived ±1 hyperplanes,
  * [[Similarity.srpBucket]]), so the whole index — build, layout, probe —
  * replays exactly in the DuckDB oracle, which KMeans-trained lists cannot.
  * The registry's `ann_srp_store_probe` and `q_hybrid_ann` queries use it;
  * the Engine serves from the IVF index.
  *
  * Layout under `path/`: `assignments/` partitioned by `abucket` — a probe
  * filters `abucket` to the query's bucket (plus optional Hamming
  * neighbors for recall) and reads ONLY those partitions; `stats/` the row
  * count, written last. */
final class SrpIndexStore(
    protected val spark: SparkSession, protected val path: String,
    dim: Int, planes: Int,
    idCols: Seq[String] = Seq("filePath", "chunkIndex"),
    vecCol: String = "vector") extends StatsLastIndexStore {

  require(planes >= 1 && planes <= 30, "planes must be in 1..30")

  private val assignmentsPath = path + "/assignments"

  def rebuild(rows: DataFrame): Unit = {
    val a = rows.select(idCols.map(col) :+ col(vecCol): _*)
      .withColumn("abucket", Similarity.srpBucket(vecCol, dim, planes))
      .persist()
    try {
      if (a.isEmpty) { drop(); return }
      DirSwap.swapInto(fs, path, assignmentsPath)(tmp =>
        a.write.partitionBy("abucket").mode(SaveMode.Overwrite).parquet(tmp))
      writeStats(a)
    } finally a.unpersist()
  }

  /** probe the query's bucket (hammingRadius=0, the oracle-replayable form)
    * or its Hamming-neighborhood (radius 1–2 trades read volume for recall);
    * partition pruning keeps the scan to the probed buckets only */
  def probe(queryVec: Seq[Float], k: Int, hammingRadius: Int = 0): DataFrame = {
    val qb = Similarity.srpBucketScala(queryVec, dim, planes)
    val buckets: Seq[Long] = hammingRadius match {
      case 0 => Seq(qb)
      case 1 => qb +: (0 until planes).map(p => qb ^ (1L << p))
      case 2 => (qb +: (0 until planes).map(p => qb ^ (1L << p))) ++
        (for { p <- 0 until planes; q <- (p + 1) until planes }
          yield qb ^ (1L << p) ^ (1L << q))
      case r => throw new IllegalArgumentException(s"hammingRadius $r not in 0..2")
    }
    // read only the probed buckets' directories (prunedPartitionRead):
    // listing cost follows the probe, never the index size; the isin stays
    // as the (now trivially-true) partition filter PlanSpec pins
    prunedPartitionRead(assignmentsPath, "abucket", buckets)
      .filter(col("abucket").isin(buckets.map(java.lang.Long.valueOf): _*))
      .withColumn("score", VectorSearch.dotDistance(col(vecCol), typedLit(queryVec)))
      .orderBy(col("score") +: idCols.map(col): _*)
      .limit(k)
      .select(idCols.map(col) :+ col("score"): _*)
  }
}
