package graft

import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Profile}
import graft.queries.Registry

/** Scale-stress main: times the dedup headline queries on the base corpus and
  * on a ~Nx synthetically inflated twin (each document duplicated N times with
  * a doc_id remap), recording wall-time scaling plus shuffle/spill task
  * metrics. The dedup plans are argued linear-ish in shuffled bytes — this
  * measures it, at the only scale knob a single box offers.
  *
  *   tools/run.sh graft.ScaleStress <baseSfDir> <workDir> [factor=10]
  *
  * Inflation duplicates rows verbatim (web-crawl-realistic: the dedup ops are
  * SUPPOSED to drown in duplicates at 100 TB) with copy i's doc_id offset by
  * i*10M — far above the +100k/+200k remaps the dup-corpus queries add
  * internally, so planted structure replicates per copy instead of colliding.
  * Every doc gains N-1 exact twins: exact-dedup stages collapse them (cost
  * follows the dirty data), LSH buckets grow by N and the pair expansion
  * within them by ~N^2 — exactly the hot-bucket regime the streamed
  * pair-expansion path is built for.
  */
object ScaleStress {

  /** default = the dedup headlines; SPARK_GRAFT_STRESS_QUERIES=a,b,c
    * selects any documents-table queries (e.g. the text-analysis set) */
  private def headline: Seq[String] =
    sys.env.get("SPARK_GRAFT_STRESS_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(
        Seq("d_minhash_lsh", "d_gram_coverage", "d_corpus_pipeline", "d_dup_groups"))

  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val workDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // inflated twins of the documents + embeddings tables — everything the
    // stressable queries read. Written once; re-runs reuse them.
    val bigDir = s"$workDir/sf_x$factor"
    if (!new java.io.File(s"$bigDir/documents.parquet").exists()) {
      val docs = graft.core.Tables.documents(spark, baseDir)
      val inflated = (0 until factor).map { i =>
        docs.withColumn("doc_id", col("doc_id") + lit(i.toLong * 10000000L))
      }.reduce(_ union _)
      inflated.write.mode("overwrite").parquet(s"$bigDir/documents.parquet")
    }
    if (!new java.io.File(s"$bigDir/embeddings.parquet").exists()) {
      val emb = graft.core.Tables.embeddings(spark, baseDir)
      val inflated = (0 until factor).map { i =>
        emb.withColumn("vec_id", col("vec_id") + lit(i.toLong * 10000000L))
      }.reduce(_ union _)
      inflated.write.mode("overwrite").parquet(s"$bigDir/embeddings.parquet")
    }

    // the untimed warm pass keeps codegen compile + scan setup out of the
    // number; the window's steal/iowait samples are the PERF.md ritual (no
    // scale wall without its noise samples — iowait catches the co-tenant
    // disk contention steal is blind to, r17 VERDICT #2)
    def timed(name: String, dir: String): Profile.Record = {
      val q = Registry.byName(name)
      q.build(spark, dir).write.format("noop").mode("overwrite").save()
      GraftSession.releaseAllBlocks(spark)
      val (_, rec) = Profile.window(spark.sparkContext) {
        q.build(spark, dir).write.format("noop").mode("overwrite").save()
      }
      GraftSession.releaseAllBlocks(spark)
      rec
    }

    val rows = headline.map { name =>
      val one = timed(name, baseDir)
      val big = timed(name, bigDir)
      val (t1, tN) = (one.wallSec, big.wallSec)
      val entry =
        f"""  "$name": {"t_1x_sec": $t1%.3f, "t_${factor}x_sec": $tN%.3f, """ +
        f""""ratio": ${tN / t1}%.2f, "shuffle_write_1x": ${one.shuffleWrite}, """ +
        f""""shuffle_write_${factor}x": ${big.shuffleWrite}, "max_task_spill": ${big.maxTaskSpill}, """ +
        f""""total_spill": ${big.totalSpill}, "tasks_${factor}x": ${big.tasks.size}, """ +
        f""""steal_pct_1x": ${one.stealPct}%.2f, "steal_pct_${factor}x": ${big.stealPct}%.2f, """ +
        f""""iowait_pct_1x": ${one.iowaitPct}%.2f, "iowait_pct_${factor}x": ${big.iowaitPct}%.2f, """ +
        f""""profile_${factor}x": ${big.json}}"""
      System.err.println(f"[stress] $name%-18s 1x=$t1%6.2fs ${factor}x=$tN%6.2fs " +
        f"ratio=${tN / t1}%5.2f shufW ${one.shuffleWrite / 1e6}%8.1fMB -> ${big.shuffleWrite / 1e6}%8.1fMB " +
        f"maxTaskSpill=${big.maxTaskSpill / 1e6}%6.1fMB steal=${one.stealPct}%.1f%%/${big.stealPct}%.1f%% " +
        f"iowait=${one.iowaitPct}%.1f%%/${big.iowaitPct}%.1f%%")
      entry
    }
    println(rows.mkString(s"""{"factor": $factor, "base": "$baseDir",\n""", ",\n", "\n}"))
    spark.stop()
  }
}
