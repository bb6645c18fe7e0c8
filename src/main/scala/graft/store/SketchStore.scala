package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Seam
import graft.ops.Sketches

/** Persisted corpus-statistics sketches — the monitoring sibling of the
  * other incremental stores ([[MinhashIndexStore]] dedup state,
  * [[FtsIndexStore]] postings): a running HyperLogLog register table
  * (distinct documents) and a Count-Min counter grid (token frequencies)
  * that a live store maintains ACROSS mutation batches.
  *
  * Why it exists: "how many distinct docs / what are the hot tokens" over
  * a continuously-ingested corpus shouldn't re-scan the corpus. Both
  * sketches are MERGEABLE — HLL by register-wise max, CMS by counter-wise
  * sum — so appending a batch costs |batch| map work plus a fixed-size
  * (2^b + depth·width rows) merge, never a corpus pass. The stored state
  * IS the fixed-size sketch, so the store's footprint is constant no
  * matter how much data has flowed through it.
  *
  * Each version names an `hll` (register, max_rho) and a `cms`
  * (r, idx, cnt) table and carries the `batches`/`rows_seen` counters; an
  * append publishes all three with one [[StoreLog]] commit, so a crash
  * mid-append can never pair a new HLL with a stale CMS.
  */
final class SketchStore(spark: SparkSession, path: String,
                        b: Int = 6, depth: Int = 4, width: Int = 256) {

  private val log = new StoreLog(spark, path)

  def exists: Boolean = !log.latest().isEmpty

  /** merge a document batch into the stored sketches (builds them on the
    * first call). `keyCol` feeds the HLL; words of `textCol` feed the CMS. */
  def appendBatch(batch: DataFrame, keyCol: String = "text",
                  textCol: String = "text"): Unit = {
    // three consumers (HLL, CMS, the row count) — cache so an expensive
    // upstream derivation isn't recomputed per consumer
    Seam.scoped(seam => appendCached(seam.persist(batch), keyCol, textCol))
  }

  private def appendCached(batch: DataFrame, keyCol: String, textCol: String): Unit = {
    val base = log.latest()
    val batchHll = Sketches.hllRegisters(batch, col(keyCol), b)
    val words = batch.select(explode(graft.ops.Dedup.wordsArray(textCol)).as("w"))
    val batchCms = Sketches.cmsSketch(words, col("w"), depth, width)
    val (hll, cms) =
      if (base.isEmpty) (batchHll, batchCms)
      else (log.table(base, "hll").union(batchHll).groupBy("register")
          .agg(max("max_rho").as("max_rho")),
        log.table(base, "cms").union(batchCms).groupBy("r", "idx")
          .agg(sum("cnt").as("cnt")))
    // the sketches are bounded (2^b / depth·width rows): one file each
    val hllDir = log.write("hll", hll.coalesce(1))
    val cmsDir = log.write("cms", cms.coalesce(1))
    log.publish(base, Manifest(
      tables = Map("hll" -> Seq(hllDir), "cms" -> Seq(cmsDir)),
      stats = Map("batches" -> (base.stat("batches") + 1),
        "rows_seen" -> (base.stat("rows_seen") + batch.count()))))
  }

  /** current distinct-count estimate (HLL estimator over stored registers) */
  def distinctEstimate(): DataFrame =
    Sketches.hllEstimate(log.table(log.latest(), "hll"), b)

  /** frequency estimates for the given items (min over stored counters) */
  def frequencyEstimates(items: DataFrame, keyCol: String): DataFrame =
    Sketches.cmsLookup(log.table(log.latest(), "cms"), items, keyCol, depth, width)

  /** (batches, rows_seen) as one local row; no rows before the first append */
  def stats(): DataFrame = {
    val m = log.latest()
    val sp = spark
    import sp.implicits._
    (if (m.isEmpty) Seq.empty[(Long, Long)] else Seq((m.stat("batches"), m.stat("rows_seen"))))
      .toDF("batches", "rows_seen")
  }
}
