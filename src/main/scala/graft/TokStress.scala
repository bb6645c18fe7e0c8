package graft

import org.apache.spark.sql.functions._

import graft.core.{DriverProbe, GraftSession, Profile}

/** Tokenizer-trainer stress (VERDICT r14 ask #2): the one heavyweight
  * family without an adversarial scale row — BPE / WordPiece / Unigram-LM
  * are iterative-argmax loops by construction, so the 100 TB question is
  * not "does the loop shuffle less" but "is EVERY per-round driver
  * materialization vocab-bounded (never corpus-bounded), and is the
  * per-round cost flat in corpus mass once the one corpus-sized word-dict
  * aggregation has run".
  *
  *   tools/run.sh graft.TokStress <baseSfDir> <workDir> [factor=100]
  *
  * Inflation duplicates documents verbatim with remapped ids (the
  * ScaleStress convention, same tree reused). Verbatim duplication keeps
  * the DISTINCT word dict identical while multiplying corpus mass — the
  * adversarial shape for this family, because any corpus-proportional
  * driver materialization or per-round corpus re-scan shows up as a
  * factor-proportional per-round wall, while the intended design shows a
  * factor-proportional word-dict build and FLAT rounds.
  *
  * Measured per trainer at 1× and at factor×:
  *  - total wall + the [[graft.core.Profile]] record (shuffle/spill/tasks);
  *  - init wall (start → first argmax fetch = the word-dict aggregation)
  *    vs loop wall, and per-round wall/shuffle deltas off the
  *    DriverProbe hook;
  *  - the driver's max collected rows (DriverProbe.maxRows), asserted
  *    in-trainer against the vocab bound on EVERY fetch (the AnnStress
  *    nLists pattern — a corpus-bounded collect fails its first run).
  * Per-round shuffle/spill deltas are read off the window's running totals
  * between driver barriers, so they are attribution-approximate; walls
  * and row counts are exact. */
object TokStress {

  /** one trainer fetch; `site` is "<label> round <n>" for loop fetches */
  private final case class Round(site: String, rows: Long, bound: Long,
                                 wallSec: Double, shufW: Long, spill: Long) {
    def label: String = site.takeWhile(_ != ' ')
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val workDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 100
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // inflated twin (reuses ScaleStress's tree when present)
    val bigDir = s"$workDir/sf_x$factor"
    if (!new java.io.File(s"$bigDir/documents.parquet").exists()) {
      val docs = graft.core.Tables.documents(spark, baseDir)
      val inflated = (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
      }.reduce(_ union _)
      inflated.write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
    }

    def run(name: String, dir: String)(body: => Int): String = {
      val rounds = scala.collection.mutable.ArrayBuffer.empty[Round]
      DriverProbe.reset()
      val (outSize, prof) = Profile.observe(spark.sparkContext) { p =>
        var lastT = System.nanoTime()
        var lastShuf = 0L
        var lastSpill = 0L
        DriverProbe.hook = (site, rows, bound) => {
          val now = System.nanoTime()
          val (sw, sp) = (p.shuffleWrite, p.totalSpill)
          rounds += Round(site, rows, bound, (now - lastT) / 1e9,
            sw - lastShuf, sp - lastSpill)
          lastT = now; lastShuf = sw; lastSpill = sp
        }
        try body finally DriverProbe.hook = null
      }
      val wall = prof.wallSec
      // per-fetch detail for the PERF.md iteration tables
      for (r <- rounds)
        System.err.println(f"[tok-round] $name ${r.site}%-28s " +
          f"rows=${r.rows}%6d bound=${r.bound}%6d dt=${r.wallSec}%7.3fs " +
          f"shufW=${r.shufW / 1e6}%8.2fMB spill=${r.spill / 1e6}%7.1fMB")
      GraftSession.releaseAllBlocks(spark)
      val argmaxRounds = rounds.filter(_.label.endsWith(".argmax"))
      val emRounds = rounds.filter(_.label == "unigram.estep")
      val loopRounds = if (argmaxRounds.nonEmpty) argmaxRounds else emRounds
      val initSec = rounds.headOption.map(_.wallSec).getOrElse(0.0)
      val perRound = loopRounds.drop(1).map(_.wallSec)
      val meanRound = if (perRound.nonEmpty) perRound.sum / perRound.size else 0.0
      val maxRound = if (perRound.nonEmpty) perRound.max else 0.0
      System.err.println(f"[tok-stress] $name%-22s wall=$wall%7.1fs " +
        f"init=$initSec%6.1fs rounds=${loopRounds.size}%4d " +
        f"mean=$meanRound%6.3fs max=$maxRound%6.3fs " +
        f"maxDriverRows=${DriverProbe.maxRows}%6d shufW=${prof.shuffleWrite / 1e6}%9.1fMB " +
        f"spill=${prof.totalSpill / 1e6}%8.1fMB maxTaskSpill=${prof.maxTaskSpill / 1e6}%6.1fMB")
      f""""$name": {"init_sec": $initSec%.3f, """ +
        f""""n_rounds": ${loopRounds.size}, "mean_round_sec": $meanRound%.4f, """ +
        f""""max_round_sec": $maxRound%.4f, "max_driver_rows": ${DriverProbe.maxRows}, """ +
        f""""out_size": $outSize, ${prof.fields}}"""
    }

    // untimed warmup: absorb codegen/scan-setup compile so the 1× runs
    // (which go first) aren't carrying the JVM's first-call costs
    {
      val docs = graft.core.Tables.documents(spark, baseDir)
      graft.ops.Bpe.learnBatched(docs, "text", numMerges = 8, minCount = 2,
        batchK = 8): Unit
      graft.ops.WordPiece.learn(docs, "text", numMerges = 8, minCount = 2,
        batchK = 8): Unit
      graft.ops.Unigram.learn(docs, "text", targetSize = 120, seedSize = 200): Unit
      GraftSession.releaseAllBlocks(spark)
    }

    val results = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((tag, dir) <- Seq("1x" -> baseDir, s"${factor}x" -> bigDir)) {
      val docs = graft.core.Tables.documents(spark, dir)
      // production-flavored knobs: enough rounds for a stable per-round
      // mean, vocab sizes well above the bench queries' smoke values
      results += run(s"bpe_$tag", dir) {
        graft.ops.Bpe.learnBatched(docs, "text", numMerges = 256,
          minCount = 2, batchK = 16).size
      }
      results += run(s"wordpiece_$tag", dir) {
        graft.ops.WordPiece.learn(docs, "text", numMerges = 128,
          minCount = 2, batchK = 8).size
      }
      // the synthetic corpus builds text from a bounded word list, so its
      // whole ≤8-char piece universe is ~262 pieces regardless of SF —
      // targetSize must sit BELOW that (150, the bench query's value) or
      // the prune/EM loop never runs and the row measures only seeding
      results += run(s"unigram_$tag", dir) {
        graft.ops.Unigram.learn(docs, "text", targetSize = 150,
          seedSize = 600).size
      }
    }
    println(results.mkString(
      s"""{"base": "$baseDir", "factor": $factor,\n""", ",\n", "\n}"))
    spark.stop()
  }
}
