package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Seam
import graft.ops.Dedup

/** Persisted MinHash signature index — the dedup sibling of
  * [[FtsIndexStore]] (BM25 postings) and [[AnnIndexStore]] (vectors):
  * near-dup state maintained ACROSS mutation batches so deduplication is
  * incremental, not a corpus rescan. Its batch-sized [[appendBatch]] serves
  * CleanStateStore and StreamingIngest; the Engine does not use it.
  *
  * Why it exists: every whole-corpus dedup query re-shingles and re-hashes
  * all N documents to find pairs — correct for a one-shot build, wrong for a
  * live store where a sync batch touches a handful of files. With stored
  * band hashes, finding the near-dups OF A NEW BATCH is: compute signatures
  * for the batch only (|batch| rows), broadcast its bands against the stored
  * band table (one scan of the SMALL banded projection, no shuffle of it),
  * and exact-verify the surviving candidates. Cost scales with the batch
  * and its candidates, never with the corpus — the same reason the
  * reference refreshes its FTS index per mutation batch instead of
  * rebuilding (`src/server/index.ts:546-549`) applied to dedup state.
  *
  * Each version names `bands` (id, band, band_hash) and `sigs` (id, sig,
  * for introspection/rebuild audits) and carries the row count; a rebuild
  * or an appended batch is one [[StoreLog]] commit.
  *
  * Banding parameters are fixed at construction (they define the stored
  * band hashes); choose them with [[Dedup.bandingFor]].
  */
final class MinhashIndexStore(
    spark: SparkSession, path: String,
    nHashes: Int, bands: Int, rowsPerBand: Int,
    shingleK: Int = 5,
    idCol: String = "doc_id") {

  require(bands * rowsPerBand == nHashes,
    s"bands ($bands) x rowsPerBand ($rowsPerBand) must equal nHashes ($nHashes)")

  private[store] val log = new StoreLog(spark, path)

  def exists: Boolean = !log.latest().isEmpty

  /** indexed row count from the latest manifest (no Spark job) */
  def rowCount(): Long = log.latest().stat("n_rows")

  def drop(): Unit = log.drop()

  /** (id, sig) for docs with a non-empty shingle set — the signature
    * projection every caller shares (per-row, scan-speed, no shuffle) */
  def signatures(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col(idCol), col(textCol))
      .withColumn("_ws", Dedup.wordsArray(textCol))
      .withColumn("_shs", Dedup.wordShingles("_ws", shingleK))
      .filter(size(col("_shs")) > 0)
      .withColumn("_hs", Dedup.shingleBaseHashes("_shs"))
      .select(col(idCol), Dedup.minhashSignature("_hs", nHashes).as("sig"))

  private def bandsOf(sigs: DataFrame): DataFrame =
    Dedup.lshBands(sigs, idCol, "sig", bands, rowsPerBand)

  /** full rebuild from the document table (empty corpus drops the index) */
  def rebuild(docs: DataFrame, textCol: String = "text"): Unit = {
    commitRebuild(docs, textCol)
    log.vacuum()
  }

  /** [[rebuild]]'s commit without the vacuum (an owning store vacuums a
    * nested index itself); returns the committed manifest */
  private[store] def commitRebuild(docs: DataFrame, textCol: String): Manifest = {
    val after = log.latest()
    val sigs = signatures(docs, textCol).persist()
    try {
      val n = sigs.count()
      if (n == 0L) { if (after.isEmpty) after else log.commit(after, Manifest.Empty) }
      else log.commit(after, Manifest(
        tables = Map("bands" -> Seq(log.write("bands", bandsOf(sigs))),
          "sigs" -> Seq(log.write("sigs", sigs))),
        stats = Map("n_rows" -> n)))
    } finally sigs.unpersist()
  }

  /** Append one mutation batch's signatures + bands to the stored index —
    * the streaming-ingest cadence
    * ([[graft.streaming.StreamingIngest.incrementalDedupAvailableNow]]):
    * the index grows by |batch| rows with no corpus rescan — one new
    * directory per table and one commit. Bootstraps via [[rebuild]] when no
    * index exists yet. Returns rows appended. */
  def appendBatch(batchDocs: DataFrame, textCol: String = "text"): Long = {
    val (n, _) = commitAppend(log.latest(), batchDocs, textCol)
    log.vacuum()
    n
  }

  /** [[appendBatch]]'s commit over the contents of `base` (an owner's
    * pinned version, which may be older than the latest one), without the
    * vacuum: (rows appended, committed manifest) */
  private[store] def commitAppend(base: Manifest, batchDocs: DataFrame,
                                  textCol: String): (Long, Manifest) = {
    if (base.isEmpty) {
      val m = commitRebuild(batchDocs, textCol)
      return (m.stat("n_rows"), m)
    }
    val sigs = signatures(batchDocs, textCol).persist()
    try {
      val n = sigs.count()
      if (n == 0L) (0L, base)
      else (n, log.commit(log.latest(), Manifest(
        tables = Map("bands" -> log.append(base, "bands", bandsOf(sigs)),
          "sigs" -> log.append(base, "sigs", sigs)),
        stats = Map("n_rows" -> (base.stat("n_rows") + n)))))
    } finally sigs.unpersist()
  }

  /** stored banded projection (id, band, band_hash) of the latest version */
  def storedBands: DataFrame = bandsAt(log.latest())

  private def bandsAt(m: Manifest): DataFrame =
    log.table(m, "bands").select(col(idCol), col("band"), col("band_hash"))

  /** Candidate near-dup pairs TOUCHING a new batch: batch×stored pairs from
    * a broadcast join of the batch's bands against the stored band table,
    * plus batch×batch pairs from in-batch banding. Emits (id_a < id_b),
    * distinct — exactly the pairs a full-corpus LSH run would emit filtered
    * to those involving the batch, without rescanning the corpus. The
    * broadcast side is the BATCH (small by construction); the stored band
    * scan never shuffles. Callers verify candidates with
    * [[Dedup.jaccardOnPairs]] as usual.
    *
    * Cap note: in-batch pairs inherit [[Dedup.lshCandidatePairs]]'s
    * hot-bucket cap; batch×stored pairs are bounded by |batch|·|bucket|
    * (linear in the batch, not quadratic), so no cap is applied — a
    * production pipeline worried about degenerate stored buckets can
    * pre-filter [[storedBands]] with [[Dedup.oversizedBuckets]]. The pair
    * set is an eager checkpoint owned by `seam`. */
  def deltaCandidates(seam: Seam, batchDocs: DataFrame,
                      textCol: String = "text"): DataFrame =
    deltaCandidates(seam, batchDocs, textCol, log.latest())

  /** [[deltaCandidates]] against the index as version `m` names it */
  private[store] def deltaCandidates(seam: Seam, batchDocs: DataFrame,
                                     textCol: String, m: Manifest): DataFrame = {
    require(!m.isEmpty, "deltaCandidates requires an existing index (rebuild first)")
    val batchSigs = signatures(batchDocs, textCol).persist()
    try {
      val batchBands = bandsOf(batchSigs)
      val crossPairs = bandsAt(m)
        .join(broadcast(batchBands
            .select(col(idCol).as("_new_id"), col("band"), col("band_hash"))),
          Seq("band", "band_hash"))
        .filter(col(idCol) =!= col("_new_id"))
        .select(least(col(idCol), col("_new_id")).cast("long").as("id_a"),
          greatest(col(idCol), col("_new_id")).cast("long").as("id_b"))
      val inBatchPairs = Dedup.lshCandidatePairs(batchBands, idCol)
      // materialize before unpersisting the signatures the plans reference
      seam.checkpoint(crossPairs.union(inBatchPairs).distinct())
    } finally batchSigs.unpersist()
  }
}
