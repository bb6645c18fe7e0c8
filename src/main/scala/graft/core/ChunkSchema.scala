package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** The engine's one persistent table (reference `VectorChunk`,
  * `src/vectordb/types.ts:83-102`; see FIXTURES.md §1). Schema is fixed up
  * front — the reference's first-insert inference + ''-seeding is a LanceDB
  * workaround, not semantics to keep.
  */
object ChunkSchema {

  final case class ChunkMetadata(fileName: String, fileSize: Long, fileType: String)

  final case class ChunkRow(
      id: String,
      filePath: String,
      chunkIndex: Int,
      text: String,
      vector: Array[Float],
      metadata: ChunkMetadata,
      fileTitle: Option[String],
      contentHash: Option[String],
      timestamp: String)

  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("filePath", StringType, nullable = false),
    StructField("chunkIndex", IntegerType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("metadata", StructType(Seq(
      StructField("fileName", StringType, nullable = false),
      StructField("fileSize", LongType, nullable = false),
      StructField("fileType", StringType, nullable = false))), nullable = false),
    StructField("fileTitle", StringType, nullable = true),
    StructField("contentHash", StringType, nullable = true),
    StructField("timestamp", StringType, nullable = false)))

  /** the rows whose (filePath, chunkIndex) key is one of `keys` (non-empty):
    * one `filePath = f AND chunkIndex IN (…)` term per file, OR-ed. The
    * read tools' key-set fetches (probed candidates' text, matched
    * documents' BM25 lengths) all filter through it. */
  def keyIn(keys: Seq[(String, Int)]): Column =
    keys.groupMap(_._1)(_._2).map { case (f, ixs) =>
      col("filePath") === f && col("chunkIndex").isin(ixs: _*)
    }.reduce(_ || _)
}
