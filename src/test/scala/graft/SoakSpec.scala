package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.api.Engine
import graft.core.GraftSession

/** Engine-session SOAK (VERDICT r12 ask #5): the lifecycle hygiene work —
  * one seam owning every routed join's blocks, named result dirs,
  * refresh-per-batch index stores — is spec-pinned piecewise; this drives
  * one LONG-LIVED engine through repeated mixed-workload cycles
  * (mutate → sync → query mix → dedup scan → delete → re-sync) and asserts
  * the three session-level invariants end-to-end:
  *
  *  1. cached blocks: `getPersistentRDDs` returns to the post-warmup
  *     baseline after EVERY cycle — no operator leaks a persist per call;
  *  2. disk: the engine's store tree (chunks + FTS + ANN + raw sidecars)
  *     stays byte-bounded across cycles — mutation batches swap state in,
  *     they do not append unboundedly;
  *  3. heap: used memory after a GC does not trend upward across cycles
  *     beyond a generous allowance — no driver-side accumulation
  *     proportional to call count.
  *
  * Cycle count is small (5) because every invariant is asserted PER CYCLE —
  * a leak of even one cached block or one un-swapped store dir fails on its
  * first occurrence, not after an hour. */
class SoakSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  private def write(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), content.getBytes(StandardCharsets.UTF_8)): Unit
  }

  private def treeBytes(root: String): Long = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return 0L
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  private def usedHeapAfterGc(): Long = {
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(100)
    val rt = Runtime.getRuntime
    rt.totalMemory() - rt.freeMemory()
  }

  test("long-lived engine session: blocks, disk, and heap stay bounded over mixed-workload cycles") {
    val root = Files.createTempDirectory("soak-root").toString
    val storeBase = Files.createTempDirectory("soak-store").toString
    val store = storeBase + "/chunks"
    // a corpus with planted near-dups so the dedup scan has real work
    val boiler = "the quick brown fox jumps over the lazy dog again and again " * 8
    for (i <- 0 until 12)
      write(s"$root/doc$i.txt",
        s"Document number $i unique token zq$i.\n\n" + boiler +
          (if (i % 3 == 0) " shared trailing boilerplate block for the near dup detector"
           else s" distinct tail $i ${"filler " * 10}"))
    val census = new BlockCensus(spark)
    val engine = new Engine(spark, store, Seq(root))

    // ---- warm-up cycle: first sync pays store/index bootstrap; measure
    // baselines AFTER it so the invariants test steady-state, not setup
    assert(engine.sync().upserted === 12)
    assert(engine.queryDocuments("quick brown fox").count() > 0)
    assert(engine.nearDuplicateFiles(0.5).count() >= 0)
    // COUNT, not id-set: the engine legitimately rotates one live
    // checkpoint per tool name (fresh RDD id each call, predecessor
    // released) — what must not happen is the count growing with calls
    val blockBaseline = census.left.size
    val diskBaseline = treeBytes(storeBase)
    val heapBaseline = usedHeapAfterGc()
    assert(diskBaseline > 0L)

    val heaps = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (cycle <- 1 to 5) {
      // mutate: touch two docs (one content change, one delete + re-add)
      write(s"$root/doc1.txt",
        s"Document number 1 REVISED in cycle $cycle token zq1.\n\n" + boiler +
          s" revision tail $cycle ${"filler " * 10}")
      val s1 = engine.sync()
      assert(s1.upserted === 1, s"cycle $cycle: expected exactly the revised doc")
      // query mix: hybrid search, file listing, neighbors
      assert(engine.queryDocuments(s"revised cycle token zq1").count() > 0)
      assert(engine.listFiles().count() === 12)
      val anyChunk = engine.store.read().select("filePath").head().getString(0)
      assert(engine.readChunkNeighbors(anyChunk, 0, 1).count() >= 1)
      // dedup scan: drives the LSH + routed-verify machinery in-session
      assert(engine.nearDuplicateFiles(0.5).count() >= 0)
      // delete → re-sync restores it (prune then upsert)
      engine.deleteDocument(s"$root/doc2.txt")
      val s2 = engine.sync()
      assert(s2.upserted === 1, s"cycle $cycle: deleted doc must re-ingest")

      // invariant 1: no cached-block accumulation, checked EVERY cycle
      assert(census.left.size === blockBaseline,
        s"cycle $cycle leaked persisted blocks: " + census.left.mkString(","))
      // invariant 2: store tree byte-bounded (atomic swaps replace state;
      // allowance covers parquet size jitter from re-chunked revisions)
      val disk = treeBytes(storeBase)
      assert(disk <= diskBaseline * 3 / 2 + (1 << 20),
        s"cycle $cycle: store tree grew $diskBaseline -> $disk bytes")
      heaps += usedHeapAfterGc()
    }
    // invariant 3: heap trend across cycles — the LAST cycle's post-GC
    // heap must not sit far above the post-warm-up baseline. The allowance
    // is generous (Spark's own caches, codegen class cache, metrics) —
    // what it catches is per-cycle accumulation: 5 cycles of a leaked
    // O(corpus) structure would blow 256 MB on this corpus only if the
    // leak were egregious, so ALSO require the last two cycles to be flat
    // against each other within 64 MB.
    assert(heaps.last - heapBaseline < 256L * 1024 * 1024,
      s"heap grew ${(heaps.last - heapBaseline) / 1e6}%% MB over the soak " +
        s"(baseline ${heapBaseline / 1e6} MB, cycles ${heaps.map(_ / 1e6).mkString(", ")} MB)")
    assert((heaps.last - heaps(heaps.size - 2)).abs < 64L * 1024 * 1024,
      s"heap still trending in the final cycles: ${heaps.map(_ / 1e6).mkString(", ")} MB")
  }

  test("cleanCorpus op: repeated funnel calls leave no blocks") {
    // VERDICT r14 ask #5: the funnel's two stage caches plus its routed
    // verify's persists and dropped-id checkpoint are exactly the class
    // this soak exists to gate. Drive the ops-level API (not the benchmark
    // query) through repeated build→consume→close cycles — any cycle that
    // strands even one block fails immediately.
    import org.apache.spark.sql.functions.col
    import graft.core.Seam
    import graft.ops.CleanCorpus
    val session = spark
    import session.implicits._
    // deterministic funnel work: every 5th doc is the SAME 24 words with a
    // distinct punctuation suffix (identical shingle set -> guaranteed LSH
    // candidates, jaccard 1.0 -> all but the canonical drop at near-dedup;
    // distinct fingerprints -> they survive exact dedup), the rest carry
    // doc-unique vocab (survive everything except the holdout predicate)
    val groupText = (0 until 24).map(j => s"group word g$j").mkString(" ")
      .split(" ").take(24).mkString(" ")
    val base = (0 until 60).map { i =>
      val text =
        if (i % 5 == 0) groupText + " " + ("!" * (i / 5 + 1))
        else s"document $i corpus soak token zz$i " +
          (0 until 20).map(j => s"w${i}x$j").mkString(" ")
      (i.toLong, text)
    }
    val corpus = base.toDF("doc_id", "text")
    val census = new BlockCensus(spark)
    var expected = -1L
    for (cycle <- 1 to 3) {
      val n = Seam.scoped(seam => CleanCorpus.cleanCorpus(seam,
          corpus, "doc_id", "text", isHoldout = Some(col("doc_id") % 13 === 0))
        .decontaminated.count())
      assert(n > 0, "funnel produced no survivors")
      if (expected < 0) expected = n
      else assert(n === expected, s"cycle $cycle drifted")
      assert(census.left.isEmpty,
        s"cleanCorpus cycle $cycle leaked blocks: ${census.left.mkString(",")}")
    }
  }
}
