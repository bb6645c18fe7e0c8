package graft

import graft.core.{DriverProbe, GraftSession, Profile}

/** TEXT-leg ingest stress — the RasterStress twin for the flagship WRITE
  * path (r15 VERDICT ask #1): parse → sentence split → Max-Min chunker →
  * embed → store upsert, driven through the engine's REAL batched sync
  * (reference `src/server/index.ts:550-720`, whose per-file loop is a
  * single-process artifact this path replaces with O(1) jobs).
  *
  * Stages N real mixed files on disk — txt (70%), md (20%), docx (6%,
  * ZIP+XML through the S7 parser), pdf (4%, text-object PDFs through the
  * S6 byte parser) — then runs `Engine.sync()` against a FRESH store and
  * reports:
  *   - the cold full-corpus sync's [[graft.core.Profile]] record: wall,
  *     jobs, driver gap, per-task executor-time distribution (p50/p95/max)
  *     and parallel efficiency (plan → batched ingest →
  *     FTS + ANN index refresh — everything the engine actually does);
  *   - the warm re-sync wall (all skips: gather + distributed plan only);
  *   - `DriverProbe.maxRows` — every sync driver fetch is runtime-asserted
  *     batch-bounded (one row per dirty FILE, never chunk- or corpus-scale),
  *     and the observed max is printed next to its bound.
  *
  *   tools/run.sh graft.IngestStress <workDir> [numDocs=50000]
  *
  * Scan-packing: staged files are 0.5–3 KB, so the session sets
  * openCostInBytes=64KB / maxPartitionBytes=8MB (the RasterStress knobs) —
  * ~50k files pack into a few hundred real tasks, the same knob a 100 TB
  * crawl ingest tunes. */
object IngestStress {

  /** deterministic pseudo-prose for one doc id: seeded word stream over a
    * fixed vocabulary, sentence-cased with periods so the sentence splitter
    * and Max-Min chunker do real work */
  private[graft] def docLines(id: Long): Seq[String] = {
    val vocab = Array(
      "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
      "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
      "victor", "whiskey", "xray", "yankee", "zulu", "anchor", "beacon",
      "cipher", "dynamo", "ember", "falcon", "granite", "harbor", "ivory",
      "jungle", "kernel", "lantern", "meadow", "nebula", "orchid", "prism",
      "quartz", "ridge", "summit", "thicket", "umbra", "vertex", "willow",
      "zenith")
    val rnd = new scala.util.Random(id * 2654435761L + 17)
    val nSentences = 8 + rnd.nextInt(20)
    (0 until nSentences).map { _ =>
      val n = 6 + rnd.nextInt(12)
      val ws = Array.fill(n)(vocab(rnd.nextInt(vocab.length)))
      ws(0) = ws(0).capitalize
      ws.mkString(" ") + "."
    }
  }

  /** the staged file's bytes + extension for one id (deterministic class
    * rotation: 70% txt, 20% md, 6% docx, 4% pdf — the engine's text-leg
    * format mix; the raster leg has its own harness, RasterStress) */
  private[graft] def fileFor(id: Long): (String, Array[Byte]) = {
    val lines = docLines(id)
    (id % 100) match {
      case m if m < 70 =>
        ("txt", lines.mkString("\n").getBytes("UTF-8"))
      case m if m < 90 =>
        ("md", (s"# Stress doc $id\n\n" + lines.mkString("\n"))
          .getBytes("UTF-8"))
      case m if m < 96 =>
        ("docx", graft.ingest.DocxFixtures.textDocx(id, lines))
      case _ =>
        // 16-class codec rotation (flate/LZW/RC4/AES/CMap/...): natural
        // per-doc decode skew inside the batched scan, like RasterStress
        ("pdf", graft.ingest.PdfTextFixtures.textPdf(id, lines))
    }
  }

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val numDocs = if (args.length > 1) args(1).toInt else 50000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.conf.set("spark.sql.files.openCostInBytes", (64 * 1024).toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)

    // ---- stage: N mixed files, written DISTRIBUTED (the RasterStress
    // pattern — each task materializes its id range; ~1000 files per
    // subdir). Idempotent across runs via a marker.
    val docsDir = new java.io.File(s"$workDir/ingest_$numDocs")
    val marker = new java.io.File(docsDir, "_STAGED")
    var stageSec = 0.0
    if (!marker.exists()) {
      val t0 = System.nanoTime()
      val base = docsDir.getAbsolutePath
      spark.range(numDocs).repartition(cpus.toInt * 4)
        .foreachPartition { (it: Iterator[java.lang.Long]) =>
          it.foreach { boxed =>
            val id = boxed.longValue()
            val (ext, bytes) = fileFor(id)
            val sub = new java.io.File(f"$base/g${id / 1000}%05d")
            sub.mkdirs()
            val f = new java.io.File(sub, f"doc_$id%08d.$ext")
            val out = new java.io.FileOutputStream(f)
            try out.write(bytes) finally out.close()
          }
        }
      java.nio.file.Files.createFile(marker.toPath): Unit
      stageSec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[ingest-stress] staged $numDocs files in $stageSec%.1fs")
    }

    // fresh store per run: the timed sync is the COLD full-corpus ingest
    val storeDir = new java.io.File(s"$workDir/store_$numDocs")
    def rmTree(f: java.io.File): Unit = {
      val fs = f.listFiles(); if (fs != null) fs.foreach(rmTree)
      f.delete(): Unit
    }
    if (storeDir.exists()) rmTree(storeDir)

    DriverProbe.reset()
    val probeSites =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    DriverProbe.hook = (site, rows, bound) => {
      probeSites.merge(site, (rows, bound),
        (a: (Long, Long), b: (Long, Long)) => if (a._1 >= b._1) a else b)
      ()
    }

    val engine = new graft.api.Engine(spark,
      s"${storeDir.getAbsolutePath}/chunks",
      Seq(docsDir.getAbsolutePath))

    // the timed DAG: the engine's real sync — distributed gather+plan,
    // ONE batched binaryFile → parse → chunk → embed → store overwrite,
    // then the per-batch FTS + ANN index refresh
    val (summary, cold) = Profile.window(spark.sparkContext)(engine.sync())

    // warm re-sync: nothing dirty — gather + plan only, all skips
    val (re, warm) = Profile.window(spark.sparkContext)(engine.sync())

    System.err.println(
      f"[ingest-stress] docs=$numDocs upserted=${summary.upserted} " +
      f"empty=${summary.empty} wall=${cold.wallSec}%.1fs resync=${warm.wallSec}%.1fs " +
      f"(skipped=${re.skipped}) jobs=${cold.jobs.size} tasks=${cold.tasks.size} " +
      f"taskMs p50=${cold.taskMsPct(0.5)} p95=${cold.taskMsPct(0.95)} " +
      f"max=${cold.taskMsPct(1.0)} sumTask=${cold.sumTaskSec}%.1fs " +
      f"parallelEff=${cold.parallelEfficiency}%.2f driverGap=${cold.driverGapMs} ms " +
      f"driverProbeMaxRows=${DriverProbe.maxRows}")
    probeSites.forEach((site, rb) => System.err.println(
      f"[ingest-stress]   probe site=$site%-22s maxRows=${rb._1}%8d bound=${rb._2}"))
    cold.jobs.filter(_.endMs >= 0).sortBy(j => j.startMs - j.endMs).take(10)
      .foreach { j =>
        System.err.println(f"[ingest-stress]   slow job ${j.endMs - j.startMs}%6d ms  " +
          f"job ${j.id}: ${j.label}")
      }
    DriverProbe.hook = null
    println(
      f"""{"metric":"text_ingest","docs":$numDocs,"upserted":${summary.upserted},""" +
      f""""empty":${summary.empty},"resync_sec":${warm.wallSec}%.2f,""" +
      f""""stage_sec":$stageSec%.2f,"driver_probe_max_rows":${DriverProbe.maxRows},""" +
      s"""${cold.fields}}""")
    spark.stop()
  }
}
