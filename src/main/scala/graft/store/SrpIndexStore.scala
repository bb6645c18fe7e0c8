package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity
import graft.search.VectorSearch

/** Persisted SRP-LSH ANN index — the hash-oracle-checkable sibling of the
  * IVF [[AnnIndexStore]] (same commit protocol, no trained centroids):
  * every vector's signed-random-projection bucket is a DETERMINISTIC
  * function of the vector (md5-derived ±1 hyperplanes,
  * [[Similarity.srpBucket]]), so the whole index — build, layout, probe —
  * replays exactly in the DuckDB oracle, which KMeans-trained lists cannot.
  * The registry's `ann_srp_store_probe` and `q_hybrid_ann` queries use it;
  * the Engine serves from the IVF index.
  *
  * Each version names one `assignments` table partitioned by `abucket` — a
  * probe filters `abucket` to the query's bucket (plus optional Hamming
  * neighbors for recall) and reads ONLY those partitions — and carries the
  * row count. */
final class SrpIndexStore(
    spark: SparkSession, path: String,
    dim: Int, planes: Int,
    idCols: Seq[String] = Seq("filePath", "chunkIndex"),
    vecCol: String = "vector") {

  require(planes >= 1 && planes <= 30, "planes must be in 1..30")

  private val log = new StoreLog(spark, path)

  def exists: Boolean = !log.latest().isEmpty

  /** indexed row count from the latest manifest (no Spark job) */
  def rowCount(): Long = log.latest().stat("n_rows")

  def drop(): Unit = log.drop()

  def rebuild(rows: DataFrame): Unit = {
    val a = rows.select(idCols.map(col) :+ col(vecCol): _*)
      .withColumn("abucket", Similarity.srpBucket(vecCol, dim, planes))
      .persist()
    try {
      val n = a.count()
      if (n == 0L) { drop(); return }
      val base = log.latest()
      log.publish(base, Manifest(
        tables = Map("assignments" -> Seq(log.write("assignments", a, Seq("abucket")))),
        stats = Map("n_rows" -> n)))
    } finally a.unpersist()
  }

  /** probe the query's bucket (hammingRadius=0, the oracle-replayable form)
    * or its Hamming-neighborhood (radius 1–2 trades read volume for recall);
    * partition pruning keeps the scan to the probed buckets only */
  def probe(queryVec: Seq[Float], k: Int, hammingRadius: Int = 0): DataFrame = {
    val m = log.latest()
    require(!m.isEmpty, s"$path: no SRP index to probe")
    val qb = Similarity.srpBucketScala(queryVec, dim, planes)
    val buckets: Seq[Long] = hammingRadius match {
      case 0 => Seq(qb)
      case 1 => qb +: (0 until planes).map(p => qb ^ (1L << p))
      case 2 => (qb +: (0 until planes).map(p => qb ^ (1L << p))) ++
        (for { p <- 0 until planes; q <- (p + 1) until planes }
          yield qb ^ (1L << p) ^ (1L << q))
      case r => throw new IllegalArgumentException(s"hammingRadius $r not in 0..2")
    }
    // read only the probed buckets' directories: listing cost follows the
    // probe, never the index size; the isin stays as the (now
    // trivially-true) partition filter PlanSpec pins
    log.prunedPartitionRead(log.abs(m.dirs("assignments").head), "abucket", buckets)
      .filter(col("abucket").isin(buckets.map(java.lang.Long.valueOf): _*))
      .withColumn("score", VectorSearch.dotDistance(col(vecCol), typedLit(queryVec)))
      .orderBy(col("score") +: idCols.map(col): _*)
      .limit(k)
      .select(idCols.map(col) :+ col("score"): _*)
  }
}
