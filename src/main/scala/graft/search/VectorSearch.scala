package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector scoring primitives (reference: ANN scan
  * `src/vectordb/index.ts:352-353`, dot-distance semantics
  * `src/vectordb/types.ts:114` — "0 = identical, 1 = orthogonal,
  * 2 = opposite" for L2-normalized vectors).
  *
  * Implemented with native higher-order functions (`zip_with` + `aggregate`),
  * which stay inside Catalyst (no UDF serialization, null-safe, codegen'd
  * children) and keep the brute-force scan embarrassingly parallel: score is
  * a per-row projection, top-k is TakeOrderedAndProject — no shuffle of the
  * full table, only k rows per partition reach the driver.
  */
object VectorSearch {

  /** dot product in double precision (deterministic left-to-right sum).
    * Implemented as a custom codegen'd Catalyst expression
    * ([[graft.plans.FloatVectorDot]]) — the zip_with+aggregate formulation
    * produced identical values but evaluated its lambdas interpreted and
    * allocated an intermediate array per row, dominating brute-force
    * similarity scans (~3x wall-clock on the pairwise dedup bench). */
  def dot(a: Column, b: Column): Column =
    graft.plans.FloatVectorDot(a.cast("array<float>"), b.cast("array<float>"))

  /** LanceDB 'dot' distance for normalized vectors: 1 - a·b
    * (`src/vectordb/index.ts:353`). `+ 0.0` collapses IEEE -0.0 → 0.0 so a
    * self-match scores exactly 0.0. */
  def dotDistance(a: Column, b: Column): Column = (lit(1.0) - dot(a, b)) + lit(0.0)

  /** Brute-force top-k by dot distance: the correctness baseline every ANN
    * variant is checked against. `tiebreak` must reach a total order so the
    * k-th element is deterministic. Over-fetch (2× limit) is applied by the
    * caller (hybrid search), not here. */
  def topK(chunks: DataFrame, queryVec: Column, k: Int,
           vectorCol: String = "vector", scoreCol: String = "score",
           tiebreak: Seq[String] = Seq()): DataFrame = {
    val scored = chunks.withColumn(scoreCol, dotDistance(col(vectorCol), queryVec))
    scored.orderBy((col(scoreCol) +: tiebreak.map(col)): _*).limit(k)
  }
}
