package graft.store

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing for the persisted index stores ([[AnnIndexStore]],
  * [[SrpIndexStore]], [[MinhashIndexStore]]): the stats-table discipline
  * (written LAST so [[exists]] only ever observes a complete index; answers
  * [[rowCount]] without a data scan) and the pruned probe read of a
  * partitioned table. [[FtsIndexStore]] keeps its own stats shape (BM25
  * corpus totals, not plain row counts) and does not extend this. */
private[store] trait StatsLastIndexStore {
  protected def spark: SparkSession
  protected def path: String

  protected final def statsPath: String = path + "/stats"

  protected final def fs =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new HPath(statsPath))

  /** indexed row count from the stats table (no data scan). Memoized
    * behind the stats dir's filesystem signature ([[graft.core.SourceStamp]]):
    * the value is a pure function of the stats files, so a signature hit
    * answers the staleness probe with ZERO Spark jobs — a rebuild rewrites
    * the dir and invalidates the stamp. */
  def rowCount(): Long =
    if (!exists) 0L
    else graft.core.SourceStamp.memoLong(statsPath, "rowCount") {
      spark.read.parquet(statsPath)
        .agg(coalesce(sum("n_rows"), lit(0L))).head().getLong(0)
    }

  def drop(): Unit =
    if (fs.exists(new HPath(path))) fs.delete(new HPath(path), true)

  /** Read ONLY the named partition values' directories of a partitioned
    * assignments table — the probe-side read (r17). A bare
    * `spark.read.parquet(tablePath)` discovers EVERY partition directory
    * before the `isin` filter can prune: with 256 abucket dirs that is a
    * parallel-listing Spark job plus schema-inference footer reads on every
    * probe call (~0.5–0.7 s at sf0.1, measured via JobCountProbe on
    * q_hybrid_ann), and at production index sizes a full directory listing
    * per point query — the same listing-storm class the r16 ingest fix
    * killed. Resolving the probed values to their directories driver-side
    * (one cheap globStatus per value) and handing Spark exactly those paths
    * makes the probe listing O(probed buckets), never O(index). `basePath`
    * keeps the partition columns in the schema, so callers' `isin` filter
    * still applies (and still shows as PartitionFilters — the plan shape
    * PlanSpec pins). When no value is probed or no probed directory exists
    * the probe's answer is empty, and the method returns a zero-row frame
    * with the table's schema. Values must be integral ids. */
  protected final def prunedPartitionRead(
      tablePath: String, partCol: String, values: Seq[Any]): DataFrame = {
    // ONE globStatus with a {v1,v2,…} alternation instead of one RPC per
    // probed value (r17 VERDICT #5): driver-side listing RPCs are O(1) per
    // probe, not O(nProbe). The values go into the pattern unescaped, so
    // only integral ids (no glob metacharacters) are accepted.
    require(values.forall {
      case _: Int | _: Long | _: Short | _: Byte => true
      case _ => false
    }, s"partition ids must be integral: ${values.take(5).mkString(", ")}")
    val ids = values.distinct
    val dirs =
      if (ids.isEmpty) Seq.empty // nothing probed: no `{}` pattern to list
      else {
        val valGlob = if (ids.size == 1) ids.head.toString else ids.mkString("{", ",", "}")
        Option(fs.globStatus(new HPath(s"$tablePath/$partCol=$valGlob")))
          .toSeq.flatten.map(_.getPath.toString)
      }
    // The probe schema is memoized behind the STATS dir signature, NOT the
    // table's: stats is a few tiny files rewritten LAST by every mutation
    // path (rebuild / appendBatch — the exists/staleness discipline), so
    // it is the store's version marker, exactly as the rowCount memo
    // already uses it. Signing the partitioned
    // table itself would walk every index file driver-side PER PROBE —
    // measured ~70–130 ms on the ×100 AnnStress tree (11k files), i.e.
    // an O(index) pass re-smuggled into the read this method exists to
    // keep O(nProbe). Inference over the probed dirs with basePath yields
    // the full table schema (data columns are uniform — single writer;
    // partition columns come from the path layout), and the memo pins the
    // partition-column type across probes (r17 ADVICE).
    def memoSchema(infer: => org.apache.spark.sql.types.StructType) =
      graft.core.SourceStamp.memo(statsPath, s"parquetSchema@$tablePath")(infer)
    if (dirs.isEmpty) {
      // No probed directory exists, so the probe's answer is empty — but
      // callers still select/filter by name, so a correctly-SHAPED frame
      // is required. Build an empty frame from the memoized table schema
      // instead of falling back to a full-table read (r17 ADVICE #2: the
      // old fallback paid an O(index) directory listing for a result the
      // isin filter then emptied anyway). A cold-JVM miss infers from the
      // full table AT MOST ONCE per store state — the worst case equals
      // the old fallback, every later miss is free.
      val schema = memoSchema(spark.read.parquet(tablePath).schema)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else {
      val schema = memoSchema(
        spark.read.option("basePath", tablePath).parquet(dirs: _*).schema)
      spark.read.schema(schema).option("basePath", tablePath).parquet(dirs: _*)
    }
  }

  /** write the (pbucket, n_rows) stats table — call LAST in a rebuild.
    * `pbucket` is the constant 0, kept so the stats layout stays the one
    * existing stores were written with. */
  protected final def writeStats(df: DataFrame): Unit =
    DirSwap.swapInto(fs, path, statsPath)(tmp =>
      df.agg(count(lit(1)).as("n_rows")).withColumn("pbucket", lit(0L))
        .select("pbucket", "n_rows")
        .write.mode(SaveMode.Overwrite).parquet(tmp))
}
