package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Final-stage corpus export: write a cleaned document table in the layout
  * a training-data reader wants,
  *
  *   out/split=train/lang=en/shard=3/part-*.parquet
  *
  * with DETERMINISTIC placement — split by portable content hash
  * ([[TextAnalysis.hashSplit]]: the same doc lands in the same split on
  * every run and engine) and shard by portable id hash — and BOUNDED file
  * sizes via `maxRecordsPerFile`, the knob that stops a skewed shard from
  * producing one 50 GB file a data-loader cannot parallelize over.
  *
  * Scale posture (the part that matters at 100 TB): one `repartition` on
  * the output partition columns co-locates each output directory's rows
  * into a single task. WITHOUT it, every input task writes a part-file
  * into every output directory it sees rows for — tasks × directories
  * small files, the classic corpus-export mistake. With it, file count is
  * `directories × ceil(rows/maxRecordsPerFile)`. Rows sort by doc_id
  * within each partition so the layout is reproducible given identical
  * input, and readers get monotone id runs (friendlier range metadata).
  */
object CorpusWriter {

  /** add the (split, shard) layout columns — exposed so the export query's
    * oracle can replay placement without writing anything */
  def layout(docs: DataFrame, numShards: Int, idCol: String = "doc_id",
             textCol: String = "text"): DataFrame =
    docs
      .withColumn("split", TextAnalysis.hashSplit(md5(col(textCol))))
      .withColumn("shard",
        pmod(Dedup.hash60(col(idCol).cast("string")), lit(numShards.toLong)))

  /** write `docs` as the sharded training layout; returns the output dir.
    * `extraPartitionCols` sit between split and shard in the directory
    * hierarchy (lang by default; a table without strata passes Seq.empty) */
  def writeSharded(docs: DataFrame, outDir: String, numShards: Int = 16,
                   maxRecordsPerFile: Long = 0L, idCol: String = "doc_id",
                   textCol: String = "text",
                   extraPartitionCols: Seq[String] = Seq("lang")): String = {
    require(numShards >= 1, "numShards must be >= 1")
    require(docs.take(1).nonEmpty,
      "refusing to export an EMPTY corpus (zero-row partitioned writes " +
        "leave an unreadable layout behind)") // fail fast, same as upserts
    val partCols = ("split" +: extraPartitionCols) :+ "shard"
    val laid = layout(docs, numShards, idCol, textCol)
      .repartition(partCols.map(col): _*)
      .sortWithinPartitions((partCols :+ idCol).map(col): _*)
    val w = laid.write.partitionBy(partCols: _*)
      .mode(SaveMode.Overwrite)
    (if (maxRecordsPerFile > 0L)
       w.option("maxRecordsPerFile", maxRecordsPerFile.toString)
     else w).parquet(outDir)
    outDir
  }

  /** partition-pruned read of one (split, lang, shard) cell — the
    * data-loader access pattern; the filter prunes directories, never
    * scanning other cells' files */
  def readCell(spark: SparkSession, outDir: String,
               split: String, lang: String, shard: Long): DataFrame =
    Tables.openParquet(spark, outDir)
      .filter(col("split") === split && col("lang") === lang &&
        col("shard") === shard)
}
