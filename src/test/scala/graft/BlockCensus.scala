package graft

import org.apache.spark.sql.SparkSession

/** Persisted-block census scoped to RDDs created from its construction on.
  * The specs share one SparkSession, so the RAW `getPersistentRDDs` count
  * also sees earlier tests' abandoned frames — whose dead blocks the
  * ContextCleaner unpersists at some later GC, dropping the raw count BELOW
  * a baseline captured before the GC landed (observed in-suite: 16 -> 15
  * mid-soak, a phantom "leak" of -1). RDD ids are monotonic per context, so
  * counting only ids at or above a floor sees only blocks the test itself
  * made — those are strongly referenced and cannot be cleaner-reclaimed,
  * which keeps the assertion deterministic at full strictness. */
final class BlockCensus(spark: SparkSession) {
  private val floor = spark.sparkContext.parallelize(Seq(0), 1).id

  /** ids of the RDDs created since the census began that still hold blocks */
  def left: Seq[Int] =
    spark.sparkContext.getPersistentRDDs.keys.filter(_ >= floor).toSeq.sorted
}
