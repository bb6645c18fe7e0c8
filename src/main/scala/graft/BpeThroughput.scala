package graft

import graft.core.GraftSession

/** BPE trainer throughput main: times [[graft.ops.Bpe.learnBatched]] at a
  * production-shaped merge count for several batch widths K on the same
  * corpus, reporting merges/sec. The point of comparison is the driver
  * round-trip amortization: K=1 pays one argmax + two localCheckpoint
  * materializations PER MERGE (the scheduling floor a 32k-vocab run would
  * multiply ~32k times), K=64 pays the same per ROUND of ≤64 merges.
  *
  *   tools/run.sh graft.BpeThroughput <sfDir> [numMerges=1000] [ks=1,64] [checkpointEvery=8]
  *
  * The testdata documents table has only 31 distinct words — nowhere near
  * enough pair diversity to sustain a 1k-merge ladder — so the corpus here
  * is a vocabulary-rich twin derived DETERMINISTICALLY from it: each doc's
  * text becomes 8 salted md5 hex words (sf0.1 → 40k distinct 32-char
  * words, a production-shaped zipf-less dict; hex gives 16 initial symbols
  * and a deep merge lattice). minCount=1 keeps the ladder from stopping
  * early — throughput is the measurement here, not vocabulary quality
  * (BpeSpec owns semantics).
  */
object BpeThroughput {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val numMerges = if (args.length > 1) args(1).toInt else 1000
    val ks = if (args.length > 2) args(2).split(",").map(_.trim.toInt).toSeq
             else Seq(1, 64)
    val ckptEvery = if (args.length > 3) args(3).toInt else 1
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    import org.apache.spark.sql.functions._
    val docs = graft.core.Tables.documents(spark, sfDir)
      .select(concat_ws(" ", (0 until 8).map(i =>
        md5(concat(col("doc_id").cast("string"), lit(s"-$i")))): _*).as("text"))
      .cache()
    docs.count() // corpus materialized before the clock starts

    def r2(x: Double): Double = math.round(x * 100) / 100.0
    val rows = ks.map { k =>
      GraftSession.releaseAllBlocks(spark)
      docs.persist(); docs.count() // re-pin the corpus the release dropped
      val t0 = System.nanoTime()
      val merges = graft.ops.Bpe.learnBatched(docs, "text", numMerges,
        minCount = 1L, batchK = k, checkpointEvery = ckptEvery)
      val sec = (System.nanoTime() - t0) / 1e9
      val rate = merges.size / sec
      System.err.println(
        s"[bpe] K=$k ckptEvery=$ckptEvery merges=${merges.size} " +
        s"wall=${r2(sec)}s merges/sec=${r2(rate)}")
      // Double.toString is locale-independent (the f"" interpolator is not)
      s""""k_$k": {"merges": ${merges.size}, "sec": ${r2(sec)}, "merges_per_sec": ${r2(rate)}}"""
    }
    println(rows.mkString(
      s"""{"sf": "$sfDir", "num_merges": $numMerges, "checkpoint_every": $ckptEvery,\n""",
      ",\n", "\n}"))
    spark.stop()
  }
}
