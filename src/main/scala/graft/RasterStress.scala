package graft

import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Profile}

/** S6 raster-leg ingest stress: stages N fixture PDFs (the s6 14-class
  * codec rotation — raw/Flate/predictor/DCT/CCITT/JBIG2 generic/symbol/
  * refined/Huffman/globals — so per-doc decode cost is NATURALLY skewed)
  * as real files on disk, then times the engine's actual ingest DAG — a
  * distributed `binaryFile` scan feeding [[graft.ingest.PdfImages.extract]]
  * (the same scan shape `Engine.syncBatch` uses for PDF paths) — and
  * reports its [[graft.core.Profile]] record: the per-task time
  * distribution is the skew evidence — a driver bottleneck or a hot class
  * would show as one outlier task or as wall ≫ Σtask/cores.
  *
  * What this proves (the claim the dedup 100× rows don't cover): the
  * raster codecs are per-doc CPU INSIDE executor tasks — no driver-side
  * collect, no serial stage — so ingest wall ≈ Σ(task time)/cores and the
  * codec-rotation skew stays bounded by file-packing, not by one hot task.
  *
  *   tools/run.sh graft.RasterStress <workDir> [numDocs=50000]
  *
  * Scan-packing knobs: fixture PDFs are ~1-3 KB, so the default 4 MB
  * openCostInBytes would synthesize thousands of near-empty splits; the
  * session sets openCostInBytes=64KB / maxPartitionBytes=8MB so ~50k files
  * pack into a few hundred real tasks (each decoding ~100+ docs across the
  * whole class rotation) — the same knob a 100 TB crawl ingest tunes.
  */
object RasterStress {

  def main(args: Array[String]): Unit = {
    val workDir = args(0)
    val numDocs = if (args.length > 1) args(1).toInt else 50000
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus.toInt)
    spark.conf.set("spark.sql.files.openCostInBytes", (64 * 1024).toString)
    spark.conf.set("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)

    // ---- stage: N fixture PDFs as real files, written DISTRIBUTED (each
    // task materializes its id range; ~1000 files per subdir keeps the
    // driver's file listing shallow). Idempotent across runs via a marker.
    val pdfDir = new java.io.File(s"$workDir/pdfs_$numDocs")
    val marker = new java.io.File(pdfDir, "_STAGED")
    var stageSec = 0.0
    if (!marker.exists()) {
      val t0 = System.nanoTime()
      val base = pdfDir.getAbsolutePath
      spark.range(numDocs).repartition(cpus.toInt * 4)
        .foreachPartition { (it: Iterator[java.lang.Long]) =>
          it.foreach { boxed =>
            val id = boxed.longValue()
            val sub = new java.io.File(f"$base/g${id / 1000}%05d")
            sub.mkdirs()
            val f = new java.io.File(sub, f"doc_$id%08d.pdf")
            val out = new java.io.FileOutputStream(f)
            try out.write(graft.ingest.PdfImageFixtures.imagePdf(id))
            finally out.close()
          }
        }
      java.nio.file.Files.createFile(marker.toPath): Unit
      stageSec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[raster-stress] staged $numDocs PDFs in $stageSec%.1fs")
    }

    // the timed DAG: binaryFile scan → per-file decode of every embedded
    // image → ONE global aggregate (forces full decode of every pixel
    // stream; sum_luma is the checksum the s6 oracle pins per doc)
    def ingest() = {
      val ext = udf((b: Array[Byte]) =>
        graft.ingest.PdfImages.extract(b).map { im =>
          var sum = 0L
          var i = 0
          while (i < im.luma.length) { sum += im.luma(i); i += 1 }
          (im.codec, im.width.toLong * im.height, sum)
        })
      spark.read.format("binaryFile").load(s"${pdfDir.getAbsolutePath}/g*")
        .select(explode(ext(col("content"))).as("im"))
        .select(col("im._1").as("codec"), col("im._2").as("n_px"),
          col("im._3").as("sum_luma"))
        .groupBy("codec")
        .agg(count(lit(1)).as("n_images"), sum("n_px").as("n_px"),
          sum("sum_luma").as("sum_luma"))
    }

    // untimed warm pass (codegen + listing), then the timed steady state
    ingest().write.format("noop").mode("overwrite").save()
    val (rows, prof) = Profile.window(spark.sparkContext)(ingest().collect())
    val byCodec = rows.sortBy(_.getString(0))
    val nImages = byCodec.map(_.getLong(1)).sum
    val sumLuma = byCodec.map(_.getLong(3)).sum
    System.err.println(
      f"[raster-stress] docs=$numDocs images=$nImages wall=${prof.wallSec}%.1fs " +
      f"tasks=${prof.tasks.size} taskMs min=${prof.taskMs.headOption.getOrElse(0L)} " +
      f"p50=${prof.taskMsPct(0.5)} p95=${prof.taskMsPct(0.95)} max=${prof.taskMsPct(1.0)} " +
      f"sumTask=${prof.sumTaskSec}%.1fs parallelEff=${prof.parallelEfficiency}%.2f")
    byCodec.foreach(r => System.err.println(
      f"[raster-stress]   codec=${r.getString(0)}%-7s images=${r.getLong(1)}%7d " +
      f"px=${r.getLong(2)}%10d sumLuma=${r.getLong(3)}"))
    println(
      f"""{"metric":"raster_ingest","docs":$numDocs,"images":$nImages,""" +
      f""""sum_luma":$sumLuma,"stage_sec":$stageSec%.2f,""" +
      s"""${prof.fields}}""")
    spark.stop()
  }
}
