package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{DriverProbe, Seam}

/** Byte-pair-encoding vocabulary training over a document corpus —
  * beyond-reference training-pipeline operator (the reference counts
  * tokens, `src/utils/token-counter.ts`, but never LEARNS a vocabulary;
  * a 100 TB pretraining pipeline trains its tokenizer from the corpus it
  * just cleaned, so the engine should too).
  *
  * Classic BPE (Sennrich et al., "Neural Machine Translation of Rare Words
  * with Subword Units", ACL 2016) trains on the word-frequency dictionary,
  * not the corpus: one corpus-sized aggregation up front collapses 100 TB
  * of text into a vocab-sized table (zipfian — ~10⁷ distinct words), and
  * every merge iteration after that touches only vocab-sized state.
  *
  * The iteration here keeps the at-scale shape real implementations use —
  * DELTA-maintained pair counts, not a full recount per merge:
  *  - the argmax pair comes from a maintained `pairCounts` table
  *    (TakeOrdered 1, never a full sort);
  *  - only words CONTAINING the winning pair (a map-side higher-order
  *    `exists` filter, no shuffle) are re-paired: their before-pairs enter
  *    the delta negative, their after-merge pairs positive;
  *  - `pairCounts` absorbs the delta in one vocab-scale aggregation.
  * Cost per merge therefore follows the AFFECTED subset (for a zipfian
  * vocab, a sliver after the first few merges), while a naive recount pays
  * the whole symbol table 50 000 times. Both iterating tables are
  * checkpointed per round through one [[graft.core.Seam]] — CONCURRENTLY,
  * the two jobs overlap — with eager release of the superseded blocks: the same
  * lineage/memory discipline as [[Dedup.connectedComponents]] (a reliable
  * checkpoint replaces the local one on a cluster). Windowed (every-N)
  * checkpointing was measured and rejected — see [[learnBatched]].
  *
  * [[learnBatched]] amortizes the per-merge driver round-trip: per round it
  * takes the K highest-count pairs that are pairwise DISJOINT over symbols
  * AND merged outputs (no string shared between any two selected pairs'
  * {left, right, left+right} triples) and applies all K in ONE delta pass.
  * That disjointness makes the batch exact: merging (a,b)→"ab" can neither
  * create nor destroy an occurrence of (c,d) when {a,b,ab} ∩ {c,d,cd} = ∅
  * (creating one needs "ab" ∈ {c,d}; destroying one consumes an a or b; a
  * shared output "ab" = "cd" would conflate two tokens), so each batch
  * member's count and its delta are the same as if it were merged alone.
  * The symbols-only version of this claim is FALSE — ("in","g") batched
  * with ("ing","s") interact through the first pair's output — which is
  * why the merged output participates in the disjointness check.
  * The divergence from strictly-sequential BPE is ORDER-level
  * only: a pair newly created by batch member i (count ≤ cᵢ) may out-count
  * batch member j>i, which sequential BPE would have merged first. On
  * corpora free of that interaction the merge TABLES are equal ([[BpeSpec]]
  * pins this), and at K=1 the two are identical merge-for-merge. A 32k-
  * vocab run at K=64 is ~500 rounds instead of ~32k job barriers.
  *
  * Determinism: ties break on (count desc, left asc, right asc), batch
  * selection is the greedy scan of that total order, and the in-word
  * replace is left-to-right non-overlapping — all pinned by [[BpeSpec]]'s
  * cross-validation against [[learnLocal]] / [[learnLocalBatched]].
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String,
                         merged: String, pairCount: Long)

  /** adjacent symbol pairs of `syms` as structs — pure HOF, no shuffle */
  private def adjacentPairs(syms: Column): Column =
    zip_with(slice(syms, lit(1), size(syms) - 1), slice(syms, lit(2), size(syms) - 1),
      (a, b) => struct(a.as("a"), b.as("b")))

  /** left-to-right non-overlapping replace of (left,right) → merged */
  private[graft] def mergeOnce(syms: Seq[String], left: String, right: String,
                             merged: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == left && syms(i + 1) == right) {
        out += merged; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** one-pass left-to-right replace of a BATCH of symbol-disjoint pairs;
    * identical to [[mergeOnce]] when the batch has one member. Disjointness
    * (no symbol shared between pairs) makes the single scan equivalent to
    * applying the pairs sequentially in any order. */
  private[graft] def mergeMulti(syms: Seq[String], lefts: Seq[String],
                              rights: Seq[String], mergeds: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      var hit = -1
      if (i + 1 < syms.length) {
        var k = 0
        while (hit < 0 && k < lefts.length) {
          if (syms(i) == lefts(k) && syms(i + 1) == rights(k)) hit = k
          k += 1
        }
      }
      if (hit >= 0) { out += mergeds(hit); i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** greedy prefix-respecting scan of tiebreak-ordered candidates: select a
    * pair iff none of its three strings — left symbol, right symbol, and the
    * MERGED OUTPUT (left+right) — collides with any of the three strings of
    * an already-selected pair, stop at `k` selections. Including the merged
    * output closes the mid-round interaction a symbols-only check misses:
    * with ("in","g") selected, ("ing","s") shares no SYMBOL but its left is
    * the first pair's output, so merging the first creates new ("ing","s")
    * occurrences mid-round and the recorded count/delta would be stale.
    * Property-tested (pairwise disjointness incl. merged outputs, order
    * preservation, first-candidate-always-selected) in BpeSpec. */
  private[graft] def selectDisjoint(cands: Seq[(String, String, Long)],
                                  k: Int): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.HashSet.empty[String]
    val out = Seq.newBuilder[(String, String, Long)]
    var n = 0
    val it = cands.iterator
    while (n < k && it.hasNext) {
      val c = it.next()
      val merged = c._1 + c._2
      if (!used(c._1) && !used(c._2) && !used(merged)) {
        used += c._1; used += c._2; used += merged; out += c; n += 1
      }
    }
    out.result()
  }

  /** how deep into the ordered pair table a round looks for disjoint
    * candidates — shared by the distributed learner and the local twin so
    * their selections are identical by construction */
  private[graft] def candidateFetch(batchK: Int): Int = math.max(8 * batchK, 32)

  /** word → initial symbol sequence (characters; a production byte-level
    * variant swaps in UTF-8 bytes here, same machinery) */
  private def charSymbols(word: String): Seq[String] = word.map(_.toString)

  /** Train `numMerges` BPE merges on the corpus behind `docs(textCol)`.
    * Stops early when the best remaining pair's count falls below
    * `minCount`. Returns the ordered merge table (rank ascending) — small
    * by construction (≤ numMerges rows), safe on the driver.
    * Merge-for-merge identical to sequential BPE ([[learnLocal]]). */
  def learn(docs: DataFrame, textCol: String, numMerges: Int,
            minCount: Long = 2L): Seq[Merge] =
    learnBatched(docs, textCol, numMerges, minCount, batchK = 1)

  /** Batched trainer: per round, the top-K disjoint pairs merge in
    * ONE delta pass — the production knob that collapses a 32k-vocab run
    * from ~32k sequential job barriers to ~vocab/K rounds (see class doc
    * for the exactness argument and the order-level divergence bound).
    * `batchK = 1` is exactly sequential BPE.
    *
    * `checkpointEvery` windows how often the two iterating tables are
    * materialized. MEASURED GUIDANCE: keep the default 1. This loop takes
    * a driver action (the argmax) EVERY round, so laziness between
    * checkpoints buys nothing — each round's argmax re-executes the whole
    * un-checkpointed window, and the delta's diamond shape (`words`
    * referenced twice per round) makes Catalyst's copied plan trees grow
    * ~3× per lazy round. At sf0.1 / 1000 merges / K=64:
    * `checkpointEvery=1` = 80 s, `=4` = 326 s (window re-execution),
    * `=8` = task-deserialization failure at ~26 MiB task binaries
    * (PERF.md round 8). The knob stays for the measurement harness, not
    * for production use. Semantics are untouched for any value (the plans
    * are deterministic); only the materialization schedule changes. The
    * real per-round win is below: the two checkpoint jobs are independent
    * and run CONCURRENTLY, so a round pays argmax + max(ckpt_pairs,
    * ckpt_words) instead of the three-barrier sum. */
  def learnBatched(docs: DataFrame, textCol: String, numMerges: Int,
                   minCount: Long = 2L, batchK: Int = 64,
                   checkpointEvery: Int = 1): Seq[Merge] = {
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    require(checkpointEvery >= 1, s"checkpointEvery must be >= 1, got $checkpointEvery")
    val spark = docs.sparkSession
    // Loop-scoped session tuning, restored after. (a) AQE materializes
    // every shuffle as a query stage with its own re-optimization barrier —
    // pure fixed latency for this loop's vocab-scale sub-second jobs
    // (hundreds of them at a real vocab), and the plans need none of its
    // help (fixed tiny shuffles, no joins). (b) The session's shuffle
    // partitioning is sized for corpus-scale queries; the loop's iterating
    // tables are vocab-scale, so every round's groupBys at the session
    // setting are mostly empty-task scheduling overhead. The initial
    // corpus-sized word-count aggregation keeps full parallelism via its
    // OWN explicit repartition below, so only the tiny per-round shuffles
    // shrink. Both measured on the K=64 ladder (PERF.md round 8).
    val keys = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" ->
        math.min(8, spark.sparkContext.defaultParallelism).toString)
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try Seam.scoped(learnBatchedLoop(_, spark, docs, textCol, numMerges,
      minCount, batchK, checkpointEvery))
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def learnBatchedLoop(seam: Seam, spark: SparkSession, docs: DataFrame,
                               textCol: String, numMerges: Int, minCount: Long,
                               batchK: Int, checkpointEvery: Int): Seq[Merge] = {

    // corpus → word-frequency dict (the ONE corpus-sized aggregation),
    // then words → char symbol sequences
    var words = seam.checkpoint(docs
      .select(explode(Dedup.wordsArray(textCol)).as("w"))
      // the ONE corpus-sized shuffle keeps full parallelism regardless of
      // the loop-scoped shuffle-partition override (the groupBy reuses
      // this clustering, so no second exchange appears)
      .repartition(spark.sparkContext.defaultParallelism, col("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      // split-on-empty can emit a trailing "" depending on the regex
      // engine's limit semantics — drop any empty symbols defensively
      .select(filter(split(col("w"), ""), c => length(c) > 0).as("syms"), col("cnt"))
      .filter(size(col("syms")) >= 2))

    var pairCounts = seam.checkpoint(words
      .select(explode(adjacentPairs(col("syms"))).as("p"), col("cnt"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum("cnt").as("cnt")))

    val merges = Seq.newBuilder[Merge]
    // the round-0 checkpoints above are the current lineage roots; replaced
    // (and their blocks released) every `checkpointEvery` rounds
    var ckptPairs = pairCounts
    var ckptWords = words
    var round = 0
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      // ONE driver round-trip per ROUND: TakeOrdered(fetch) over the
      // vocab-scale pair table, deterministic tiebreak total order
      val fetched = pairCounts.orderBy(desc("cnt"), asc("a"), asc("b"))
        .head(candidateFetch(batchK))
      // runtime pin: the per-round driver materialization is bounded by
      // the vocab knob, never the corpus (DriverProbe contract)
      DriverProbe.record(s"bpe.argmax round $round", fetched.length.toLong,
        candidateFetch(batchK).toLong)
      val cands = fetched
        .iterator
        .map(r => (r.getAs[String]("a"), r.getAs[String]("b"), r.getAs[Long]("cnt")))
        .filter(_._3 >= minCount)
        .toSeq
      val batch = selectDisjoint(cands, math.min(batchK, numMerges - rank))
      if (batch.isEmpty) done = true
      else {
        batch.foreach { case (l, r, c) =>
          merges += Merge(rank, l, r, l + r, c); rank += 1
        }
        val lefts = batch.map(_._1)
        val rights = batch.map(_._2)
        val mergeds = batch.map(b => b._1 + b._2)

        // The batch rides UDF CLOSURES, not literals: embedding 64 fresh
        // lit()s per round (the previous exists(...)-over-literals
        // membership test and typedLit merge args) makes every round's
        // generated code unique, so whole-stage codegen recompiles ~every
        // stage every round — measured as the dominant per-round cost once
        // the checkpoint jobs overlap (PERF.md round 8: 61 s → 39 s at
        // 1000 merges). With closures the generated source is identical
        // across rounds and janino's cache hits; the closure data
        // serializes with the task, not the plan.
        val pairSet = batch.map { case (l, r, _) => (l, r) }.toSet
        val hasPairUdf = udf((syms: Seq[String]) =>
          syms.length >= 2 && syms.iterator.zip(syms.iterator.drop(1))
            .exists(pairSet))
        // map-side split: only words containing some batch pair re-pair
        val hasPair = hasPairUdf(col("syms"))
        val affected = words.filter(hasPair)
        val mergedAffected = affected.select(
          udf((syms: Seq[String]) => mergeMulti(syms, lefts, rights, mergeds))
            .apply(col("syms")).as("syms"), col("cnt"))
        val delta = affected
          .select(explode(adjacentPairs(col("syms"))).as("p"), (-col("cnt")).as("cnt"))
          .union(mergedAffected
            .select(explode(adjacentPairs(col("syms"))).as("p"), col("cnt")))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("cnt").as("cnt"))

        round += 1
        val doCkpt = round % checkpointEvery == 0
        // the iterating tables are VOCAB-scale (words ~10k-10M rows, pairs
        // ~alphabet²+vocab), far below the corpus scale the session's
        // shuffle-partition setting is sized for — pinning them to a few
        // partitions cuts every round's per-stage task count (the rounds
        // are scheduling-bound, not data-bound; measured in PERF.md r8)
        val parts = math.min(8, spark.sparkContext.defaultParallelism)
        val nextPairs0 = pairCounts.union(delta)
          .groupBy("a", "b").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0)
          .coalesce(parts)
        // union concatenates partition lists — without the (shuffle-free)
        // coalesce the words table doubles its partition count every round
        // and the task count explodes exponentially by round ~15
        val nextWords0 = words.filter(!hasPair).union(mergedAffected)
          .coalesce(parts)
        if (doCkpt) {
          // the two eager materializations are independent Spark jobs —
          // submit them from separate threads so they overlap on the (idle
          // during a barrier) executor cores: the round pays
          // max(ckpt_pairs, ckpt_words), not the sum
          val Seq(nextPairs, nextWords) = seam.checkpointAll(Seq(nextPairs0, nextWords0))
          // superseded checkpoints' blocks released eagerly (Dedup CC
          // notes), without waiting on the BlockManager
          seam.release(ckptPairs, blocking = false)
          seam.release(ckptWords, blocking = false)
          ckptPairs = nextPairs; ckptWords = nextWords
          pairCounts = nextPairs; words = nextWords
        } else {
          pairCounts = nextPairs0; words = nextWords0
        }
      }
    }
    merges.result()
  }

  /** BPE-encode `textCol` with a learned merge table: standard greedy
    * application by merge rank (always the LOWEST-rank applicable merge
    * next — how trained BPE vocabularies are applied at inference). The
    * merge table rides the closure (≤ vocab-size entries, broadcast by the
    * task serializer); per row this is pure JVM, no shuffle. */
  def encode(docs: DataFrame, textCol: String, merges: Seq[Merge]): DataFrame = {
    val ranks: Map[(String, String), Int] =
      merges.map(m => (m.left, m.right) -> m.rank).toMap
    val encodeUdf = udf { (text: String) =>
      if (text == null) Seq.empty[String]
      else "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq.flatMap { w =>
        var syms = charSymbols(w)
        var go = true
        while (go && syms.length >= 2) {
          val candidates = syms.zip(syms.tail).flatMap(p => ranks.get(p))
          if (candidates.isEmpty) go = false
          else {
            val bestRank = candidates.min
            val m = merges(bestRank)
            syms = mergeOnce(syms, m.left, m.right, m.merged)
          }
        }
        syms
      }
    }
    docs.withColumn("tokens", encodeUdf(col(textCol)))
  }

  // ---- single-node reference twin (spec cross-validation only) ----

  /** sequential BPE with the same tiebreak and replace rules; the oracle
    * for [[learn]]'s distributed delta maintenance in [[BpeSpec]] */
  def learnLocal(wordCounts: Seq[(String, Long)], numMerges: Int,
                 minCount: Long = 2L): Seq[Merge] = {
    var words: Seq[(Seq[String], Long)] = wordCounts
      .filter(_._1.length >= 2).map { case (w, c) => (charSymbols(w), c) }
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]
      for ((syms, c) <- words; p <- syms.zip(syms.tail))
        counts(p) = counts.getOrElse(p, 0L) + c
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        if (c < minCount) done = true
        else {
          val m = l + r
          merges += Merge(rank, l, r, m, c)
          words = words.map { case (syms, n) => (mergeOnce(syms, l, r, m), n) }
          rank += 1
        }
      }
    }
    merges.result()
  }

  /** sequential twin of [[learnBatched]]: same candidate window, same
    * greedy disjoint selection, same one-pass multi-replace — the oracle
    * proving the distributed batched learner implements EXACTLY these
    * semantics on arbitrary corpora (BpeSpec), independent of whether the
    * batch order matches strictly-sequential BPE */
  def learnLocalBatched(wordCounts: Seq[(String, Long)], numMerges: Int,
                        minCount: Long = 2L, batchK: Int = 64): Seq[Merge] = {
    require(batchK >= 1, s"batchK must be >= 1, got $batchK")
    var words: Seq[(Seq[String], Long)] = wordCounts
      .filter(_._1.length >= 2).map { case (w, c) => (charSymbols(w), c) }
    val merges = Seq.newBuilder[Merge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]
      for ((syms, c) <- words; p <- syms.zip(syms.tail))
        counts(p) = counts.getOrElse(p, 0L) + c
      val cands = counts.toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }
        .take(candidateFetch(batchK))
        .collect { case ((a, b), n) if n >= minCount => (a, b, n) }
      val batch = selectDisjoint(cands, math.min(batchK, numMerges - rank))
      if (batch.isEmpty) done = true
      else {
        batch.foreach { case (l, r, c) =>
          merges += Merge(rank, l, r, l + r, c); rank += 1
        }
        val lefts = batch.map(_._1)
        val rights = batch.map(_._2)
        val mergeds = batch.map(b => b._1 + b._2)
        words = words.map { case (syms, n) =>
          (mergeMulti(syms, lefts, rights, mergeds), n)
        }
      }
    }
    merges.result()
  }
}
