package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Seam

/** Distributed suffix-array construction by prefix doubling
  * (Manber–Myers; the distributed formulation follows Flick & Aluru,
  * "Parallel distributed memory construction of suffix and LCP arrays",
  * SC'15) — the real machinery behind exact-substring dedup at corpus
  * scale (Lee et al. 2022 build suffix arrays to find ≥50-token repeats;
  * the k-gram operators in [[Dedup]] are the fixed-length approximation).
  *
  * Suffixes are PER-DOCUMENT (they never compare across a document
  * boundary), globally ranked: rank(doc, pos) = the position of suffix
  * `text(doc)[pos..]` in the lexicographic order of ALL suffixes of ALL
  * documents, ties between byte-identical suffixes broken by
  * (doc_id, pos) — a total order a SQL oracle can replay exactly
  * (`ORDER BY suffix, doc_id, pos`).
  *
  * Scale shape (what survives a 1000-executor corpus):
  *  - NO suffix string is ever materialized. Round 0 ranks single
  *    characters; round k refines by the pair (rank[i], rank[i + 2^k]),
  *    so after ⌈log2 maxDocLen⌉ rounds ranks order full suffixes. Every
  *    round is: one equi-join on (doc_id, pos) against the rank table
  *    shifted by 2^k, one distinct + range-partitioned sort of the
  *    (rank, rank2) key set, one join back — all key-partitioned
  *    shuffles, no row ever wider than three longs.
  *  - Dense re-ranking uses sort + zipWithIndex (range-partitioned global
  *    sort, then per-partition offsets), NEVER a single-partition window
  *    — `dense_rank() OVER (ORDER BY ...)` without a partition key would
  *    serialize the corpus through one task.
  *  - Rounds stop at the fixed point: if a refinement round creates no
  *    new rank classes, later rounds cannot either (ranks are a function
  *    of the previous round's ranks), so duplicate-heavy corpora
  *    terminate without reaching full distinctness.
  *  - Per-round `localCheckpoint` truncates lineage (the round-k plan
  *    would otherwise nest k joins deep); superseded checkpoint blocks
  *    are released eagerly, the [[graft.ops.Dedup.connectedComponents]]
  *    discipline. On a cluster a reliable checkpoint replaces the local
  *    one, same shape.
  */
object SuffixArray {

  /** (doc_id, pos, rank) for every CHARACTER suffix of every document;
    * rank is the dense 0-based global lexicographic position (ties by
    * doc_id, pos). */
  def build(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // (doc_id, pos, unit): one row per character = one per suffix. The
    // exploded object is an INT sequence (4 bytes/char resident per
    // document row) and the character is cut with substr in the same
    // whole-stage-codegen-fused projection — exploding an array of
    // single-char STRINGS instead would inflate a document to ~20× its
    // size inside one task. The CASE guards sequence() against empty
    // text (sequence(1, 0) is a DESCENDING range in Spark, not empty).
    val chars = docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("t"))
      .select(col("doc_id"), col("t"), posexplode(expr(
        """CASE WHEN length(t) > 0 THEN sequence(1, length(t))
          |ELSE CAST(array() AS array<int>) END""".stripMargin))
        .as(Seq("pos", "i")))
      .select(col("doc_id"), col("pos"), expr("substr(t, i, 1)").as("unit"))
    // one docs pass buys BOTH round count (max) and the cache-level
    // decision (sum = exact suffix count)
    val (maxLen, total) = docs
      .agg(max(length(col(textCol))), sum(length(col(textCol)))).head() match {
      case r if r.isNullAt(0) => (0, 0L)
      case r => (r.getInt(0), r.getLong(1))
    }
    rankUnits(chars, maxLen, total)
  }

  /** TOKEN-level suffix array — the unit Lee et al. 2022 actually dedup
    * on (≥50-token repeats): suffixes of each document's WORD sequence
    * ([[Dedup.wordsArray]] tokenization), globally ranked. The doubling
    * core is unit-agnostic, so this is the same O(log maxDocTokens)
    * machinery over a ~6× smaller row count than the char-level array. */
  def buildTokens(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.wordsArray(textCol).as("ws"))
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("pos", "unit")))
    val (maxLen, total) = docs
      .select(size(Dedup.wordsArray(textCol)).cast("long").as("n"))
      .agg(max(col("n")), sum(col("n"))).head() match {
      case r if r.isNullAt(0) => (0, 0L)
      case r => (r.getLong(0).toInt, r.getLong(1))
    }
    rankUnits(toks, maxLen, total)
  }

  /** Suffix count above which the per-round sort caches store SERIALIZED
    * rows. Below it, deserialized object caching skips the per-row deser
    * on the zipWithIndex read-back — a measured ~60% of small-corpus wall
    * (the common case pays nothing for the big-corpus posture). Above it,
    * the deserialized Row overhead (~5-10× the three-long payload) is the
    * difference between graceful spill and an executor OOM — measured at
    * 30× corpus inflation (44.7M suffixes, PERF.md round 9). */
  val SerializeCacheAbove: Long = 4000000L

  /** prefix-doubling core over any (doc_id: long, pos: int, unit: string)
    * stream — see the object doc for the per-round shape. `totalUnits`
    * (exact, from the callers' ride-along agg) picks the round-cache
    * storage level via [[SerializeCacheAbove]]. */
  private def rankUnits(units: DataFrame, maxLen: Int,
                        totalUnits: Long): DataFrame = Seam.closedOnFailure { seam =>
    val cacheLevel =
      if (totalUnits > SerializeCacheAbove)
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val spark = units.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._

    // Sort + zipWithIndex dense ranking: rows ordered by `by`, indexed in
    // global sort order (range partitioning keeps this distributed).
    // zipWithIndex launches a per-partition-count job that EXECUTES the
    // sort — persisting the sorted RDD first means that execution lands
    // in the cache and the eager checkpoint below consumes it, instead of
    // re-running every sort twice; the parent blocks drop immediately
    // after. Returns an eagerly checkpointed frame — caller releases it
    // when superseded.
    def denseIndex(df: DataFrame, by: Seq[Column], out: Seq[String]): DataFrame = {
      val sorted = df.orderBy(by: _*)
      // ADAPTIVE storage (see SerializeCacheAbove): serialized above the
      // threshold — at tens of millions of suffixes the deserialized Row
      // cache alone OOMs an 8 g heap, while the serialized form spills
      // gracefully; deserialized below it — the small-corpus case reads
      // its rows back without paying per-row deserialization
      val srdd = sorted.rdd.persist(cacheLevel)
      val schema = StructType(sorted.schema.fields.toIndexedSeq :+
        StructField("idx", LongType, nullable = false))
      val indexed = srdd.zipWithIndex().map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ i)
      }
      val result = seam.checkpoint(spark.createDataFrame(indexed, schema)
        .select((out :+ "idx").map(col): _*))
      srdd.unpersist(blocking = false)
      result
    }

    // round 0: rank by first unit (order-preserving is enough)
    val unitRanks = denseIndex(units.select("unit").distinct(),
        Seq(col("unit")), Seq("unit"))
      .withColumnRenamed("idx", "rank")
    var ranks = seam.checkpoint(units.join(unitRanks, "unit")
      .select(col("doc_id"), col("pos"), col("rank")))
    seam.release(unitRanks)

    def distinctRanks(df: DataFrame): Long =
      df.agg(countDistinct(col("rank"))).head().getLong(0)

    var step = 1L
    var prevDistinct = distinctRanks(ranks)
    var fixed = false
    while (step < maxLen && !fixed) {
      // rank of the suffix 2^k positions to the right (absent → -1: the
      // shorter, prefix-equal suffix sorts first)
      val shifted = ranks.select(col("doc_id"),
        (col("pos") - lit(step)).cast("int").as("pos"),
        col("rank").as("rank2"))
      val paired = ranks.join(shifted, Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("pos"), col("rank"),
          coalesce(col("rank2"), lit(-1L)).as("rank2"))
      val keys = denseIndex(
        paired.select("rank", "rank2").distinct(),
        Seq(col("rank"), col("rank2")), Seq("rank", "rank2"))
      val next = seam.checkpoint(paired.join(keys, Seq("rank", "rank2"))
        .select(col("doc_id"), col("pos"), col("idx").as("rank")))
      val d = distinctRanks(next)
      seam.release(keys)
      seam.release(ranks)
      ranks = next
      fixed = d == prevDistinct // no refinement ⇒ fixed point
      prevDistinct = d
      step *= 2
    }

    // final total order: identical suffix STRINGS share a rank class —
    // break by (doc_id, pos) so the output is the oracle-replayable
    // ORDER BY suffix, doc_id, pos
    val out = denseIndex(ranks,
      Seq(col("rank"), col("doc_id"), col("pos")),
      Seq("doc_id", "pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("idx").as("rank"))
    seam.release(ranks)
    out
  }

  /** Longest repeated substring via the suffix array: the maximum common
    * prefix of RANK-ADJACENT suffixes (a classic SA corollary — any
    * repeated substring is a common prefix of two suffixes, and the two
    * most-similar suffixes are adjacent in suffix order). `cap` bounds
    * the per-pair comparison (and the carried prefix) so the scan stays
    * O(n · cap) bytes — corpus-linear — instead of O(n · maxDocLen);
    * repeats longer than `cap` report as `cap` (documented truncation,
    * log-visible via lcp == cap).
    *
    * Returns (lcp, substring, doc_a, pos_a, doc_b, pos_b) for the best
    * pair, smallest (doc_a, pos_a, doc_b, pos_b) on ties — deterministic
    * for the oracle. */
  def longestRepeat(docs: DataFrame, idCol: String, textCol: String,
                    cap: Int = 256): DataFrame = {
    val sa = build(docs, idCol, textCol)
    val prefixes = docs.select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("t"))
      .join(sa, "doc_id")
      .select(col("doc_id"), col("pos"), col("rank"),
        expr(s"substr(t, cast(pos as int) + 1, $cap)").as("pfx"))
    val nxt = prefixes.select((col("rank") - 1).as("rank"),
      col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("pfx").as("pfx_b"))
    val lcpUdf = udf((a: String, b: String) => {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a.charAt(i) == b.charAt(i)) i += 1
      i
    })
    prefixes.join(nxt, "rank")
      .select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        col("doc_b"), col("pos_b"),
        lcpUdf(col("pfx"), col("pfx_b")).cast("long").as("lcp"),
        col("pfx"))
      .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"),
        col("doc_b"), col("pos_b"))
      .limit(1)
      .select(col("lcp"),
        expr("substr(pfx, 1, cast(lcp as int))").as("repeat"),
        col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))
  }

  /** Longest repeated TOKEN sequence — the Lee-2022 unit — via the
    * token-level suffix array: max common WORD-prefix of rank-adjacent
    * token suffixes. `cap` (in tokens) bounds the carried prefix arrays
    * to O(n · cap) tokens, corpus-linear; same tie-break contract as
    * [[longestRepeat]]. Returns (lcp, repeat, doc_a, pos_a, doc_b,
    * pos_b) with `repeat` the words joined by single spaces. */
  def longestTokenRepeat(docs: DataFrame, idCol: String, textCol: String,
                         cap: Int = 64): DataFrame = {
    val sa = buildTokens(docs, idCol, textCol)
    val prefixes = docs.select(col(idCol).cast("long").as("doc_id"),
        Dedup.wordsArray(textCol).as("ws"))
      .join(sa, "doc_id")
      .select(col("doc_id"), col("pos"), col("rank"),
        expr(s"slice(ws, cast(pos as int) + 1, $cap)").as("pfx"))
    val nxt = prefixes.select((col("rank") - 1).as("rank"),
      col("doc_id").as("doc_b"), col("pos").as("pos_b"), col("pfx").as("pfx_b"))
    val lcpUdf = udf((a: Seq[String], b: Seq[String]) => {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n && a(i) == b(i)) i += 1
      i
    })
    prefixes.join(nxt, "rank")
      .select(col("doc_id").as("doc_a"), col("pos").as("pos_a"),
        col("doc_b"), col("pos_b"),
        lcpUdf(col("pfx"), col("pfx_b")).cast("long").as("lcp"),
        col("pfx"))
      .orderBy(col("lcp").desc, col("doc_a"), col("pos_a"),
        col("doc_b"), col("pos_b"))
      .limit(1)
      .select(col("lcp"),
        array_join(expr("slice(pfx, 1, cast(lcp as int))"), " ").as("repeat"),
        col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"))
  }
}
