package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Seam

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Hash portability: every hash is derived from md5 hex (first 15 nibbles →
  * 60-bit non-negative long), so the DuckDB oracle can reproduce signatures
  * bit-for-bit. At production scale these would be xxhash64/murmur — the
  * operator shapes are identical.
  *
  * Scale shapes:
  *  - MinHash signatures are computed per-row with array higher-order
  *    functions (transform + array_min): NO explode, NO shuffle — the
  *    signature projection runs at scan speed. Only the tiny banded
  *    candidate join shuffles, on (band, bandHash).
  *  - SimHash is likewise a per-row projection; near-dup pairing blocks on
  *    a 16-bit prefix before the hamming filter, bounding the self-join.
  *  - Exact dedup is one hash-groupBy (map-side combined).
  */
object Dedup {

  /** 60-bit portable hash of a string expression (SQL twin:
    * CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** lowercase word array — materialize this as a column BEFORE deriving
    * shingles/hashes from it: an expression inlined into a lambda is
    * re-evaluated per array element (the regex would run O(words^2) per
    * document), while a column reference is a cheap bound read */
  def wordsArray(textColName: String): Column =
    expr(s"regexp_extract_all(lower($textColName), '[a-z0-9]+', 0)")

  /** word k-shingles as a distinct array (per-row, no shuffle).
    *
    * Implemented as a Scala UDF rather than transform/slice lambdas: Catalyst
    * collapses the words-array alias back INTO the lambda, and expressions
    * inside higher-order lambdas are interpreted per element — the sliced
    * re-evaluation made shingling O(words^2) regex work per document. A
    * per-row UDF does one linear pass (SURVEY §2.11's "(d) last resort",
    * justified by measurement: ~4x on the dedup bench). */
  def wordShingles(wordsColName: String, k: Int): Column = {
    val f = udf((ws: Seq[String]) =>
      if (ws == null || ws.size < k) Seq.empty[String]
      else ws.sliding(k).map(_.mkString(" ")).toSeq.distinct)
    f(col(wordsColName))
  }

  /** DISTINCT 64-bit hashes of word k-shingles WITHOUT materializing the
    * shingle strings: per-word 32-bit hashes combined by a k-step
    * polynomial+mix per gram. At corpus scale the gram STRING stream is
    * ~5x the byte volume of the hash stream (k words × avg word length vs
    * 8 bytes) — for counting/threshold signals the strings are never
    * needed, so this is the projection the exchange should carry.
    * Collision behavior is the consumer's contract to document (64-bit:
    * ~1e-7 at 1M distinct grams). */
  def wordShingleHashes(wordsColName: String, k: Int): Column = {
    val f = udf((ws: Seq[String]) =>
      if (ws == null || ws.size < k) Seq.empty[Long]
      else {
        val wh = new Array[Long](ws.size)
        var i = 0
        while (i < wh.length) {
          wh(i) = scala.util.hashing.MurmurHash3.stringHash(ws(i)).toLong & 0xffffffffL
          i += 1
        }
        val out = new Array[Long](ws.size - k + 1)
        i = 0
        while (i < out.length) {
          var h = 1125899906842597L
          var j = 0
          while (j < k) {
            h = h * 6364136223846793005L + wh(i + j)
            h ^= (h >>> 29)
            j += 1
          }
          out(i) = h
          i += 1
        }
        out.toSeq.distinct
      })
    f(col(wordsColName))
  }

  /** POSITIONAL word k-shingle hashes: element i is the hash of the gram
    * starting at word position i (no distinct — position-level consumers
    * like span dedup need every occurrence). Same per-word murmur +
    * k-step polynomial mix as [[wordShingleHashes]], so the two agree on
    * equal grams. Carrying the 8-byte hash instead of the k-word string
    * through gram-keyed exchanges cuts the shuffle byte volume ~4-5×;
    * collision contract as documented there (64-bit — a false gram match
    * is ~1e-7 at 1M distinct grams, and the consumer's oracle/twin gates
    * would surface it as a value mismatch). */
  def wordShingleHashesAt(wordsColName: String, k: Int): Column = {
    val f = udf((ws: Seq[String]) =>
      if (ws == null || ws.size < k) Seq.empty[Long]
      else {
        val wh = new Array[Long](ws.size)
        var i = 0
        while (i < wh.length) {
          wh(i) = scala.util.hashing.MurmurHash3.stringHash(ws(i)).toLong & 0xffffffffL
          i += 1
        }
        val out = new Array[Long](ws.size - k + 1)
        i = 0
        while (i < out.length) {
          var h = 1125899906842597L
          var j = 0
          while (j < k) {
            h = h * 6364136223846793005L + wh(i + j)
            h ^= (h >>> 29)
            j += 1
          }
          out(i) = h
          i += 1
        }
        out.toSeq
      })
    f(col(wordsColName))
  }

  /** Exact-substring SPAN dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"): every word position covered by
    * a word k-gram that occurs MORE THAN ONCE corpus-wide is cut, and the
    * surviving words reassemble the cleaned document. One row per input
    * row: (idCol, n_words, n_kept, n_removed, cleaned) — `cleaned` is the
    * reassembled text (empty when everything was cut).
    *
    * Plan shape (the r14 doc-local reconstruction, adversarial rows in
    * PERF.md — sf0.1×100: zero spill at the default heap):
    *  - the tokenized corpus is cached once (MEMORY_AND_DISK, A/B'd vs
    *    DISK_ONLY) and feeds both the gram stream and the rebuild spine;
    *  - gram exchanges carry 8-byte positional hashes
    *    ([[wordShingleHashesAt]] — 64-bit collision contract there), never
    *    k-word strings;
    *  - each doc's dup-gram START positions aggregate into ONE bounded set
    *    (≤ the doc's own gram count — skew-safe), doc-key repartitioned
    *    BEFORE the collect_set so its partial phase never runs inside the
    *    amplified gram-join stage (object aggs degrade to sort-based past
    *    the fallback threshold — measured 11.9 GB of 100× spill without
    *    the barrier);
    *  - the cleaned text is rebuilt MAP-SIDE by a k-expansion boolean mask
    *    over the cached words array (per-row UDF, measured-justified:
    *    one linear pass), joined shuffle-hash so the corpus side is never
    *    external-sorted.
    * A coverage split (clean docs bypassing the join by a broadcast anti
    * join) measured 2.44–2.93 s against 1.57–1.70 s at sf0.1 and was
    * deleted (PERF.md). The words cache belongs to `seam`: run the terminal
    * action inside its scope. */
  def spanDedup(seam: Seam, df: DataFrame, idCol: String, textCol: String,
                k: Int): DataFrame = {
    val words = seam.persist(df
      .withColumn("_ws", wordsArray(textCol))
      .select(col(idCol), col("_ws"), size(col("_ws")).as("_n")))
    val grams = words.select(col(idCol),
      posexplode(wordShingleHashesAt("_ws", k)).as(Seq("_p", "_g")))
    val dupG = grams.groupBy("_g").agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") > 1).select("_g")
    val covSets = grams.join(dupG, "_g")
      .select(col(idCol), col("_p"))
      .repartition(col(idCol))
      .groupBy(idCol).agg(collect_set(col("_p")).as("_cov"))
    val rebuild = udf { (ws0: Seq[String], cov: Seq[Int]) =>
      // null text → wordsArray yields null; same contract as the sibling
      // shingle UDFs (null in → empty doc out), this is a public op now
      val ws = if (ws0 == null) Seq.empty[String] else ws0
      val n = ws.size
      val masked = new Array[Boolean](n)
      if (cov != null) cov.foreach { s =>
        var i = s
        val end = math.min(s + k - 1, n - 1)
        while (i <= end) { masked(i) = true; i += 1 }
      }
      val sb = new StringBuilder
      var kept = 0L
      var i = 0
      while (i < n) {
        if (!masked(i)) {
          if (kept > 0) sb.append(' ')
          sb.append(ws(i)); kept += 1
        }
        i += 1
      }
      (kept, sb.toString)
    }
    words
      .join(covSets.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), col("_n"), rebuild(col("_ws"), col("_cov")).as("_r"))
      .select(col(idCol), col("_n").cast("long").as("n_words"),
        col("_r._1").as("n_kept"),
        (col("_n") - col("_r._1")).cast("long").as("n_removed"),
        col("_r._2").as("cleaned"))
  }

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Scala twin of [[hash60]] (identical value). The first 15 hex nibbles of
    * the md5 are bytes 0-6 plus the high nibble of byte 7 — assembled
    * directly from the digest, no hex-string round trip (this runs once per
    * shingle; a format-per-byte hex encode dominated the minhash profile). */
  def hash60Scala(s: String): Long = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xffL) >> 4)
  }

  /** exact duplicate groups by normalized-content fingerprint */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** MinHash prime modulus (2^31 - 1) */
  val MinhashP = 2147483647L

  /** base shingle hashes: hash60(s) mod P, computed ONCE per shingle —
    * the per-permutation hashes below are cheap affine maps of these, so
    * the md5 cost is paid once, not numHashes times */
  def shingleBaseHashes(shinglesCol: String): Column = {
    val f = udf((shs: Seq[String]) => shs.map(sh => hash60Scala(sh) % MinhashP))
    f(col(shinglesCol))
  }

  /** MinHash signature array from base hashes: sig[i] = min over shingles of
    * ((2i+3)·h + (7i+1)) mod P — the classic affine permutation family.
    * Empty shingle set → nulls (filter first). */
  def minhashSignature(baseHashesCol: String, numHashes: Int): Column = {
    val f = udf((hs: Seq[Long]) =>
      if (hs == null || hs.isEmpty) null
      else (0 until numHashes).map { i =>
        hs.map(h => ((2 * i + 3) * h + (7 * i + 1)) % MinhashP).min
      }.toArray)
    f(col(baseHashesCol))
  }

  /** Choose (bands, rowsPerBand) for an `nHashes`-long MinHash signature so
    * the LSH s-curve's inflection threshold (1/b)^(1/r) lands nearest the
    * requested Jaccard threshold (the standard selection rule, MMDS §3.4.3)
    * — pipeline code says "dedupe at 0.8" instead of hand-picking banding,
    * the way the reference surfaces tunables as config values. Searches the
    * divisor pairs of nHashes; ties break toward fewer bands (the
    * higher-precision side of the curve). */
  def bandingFor(threshold: Double, nHashes: Int = 128): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0, "threshold must be in (0, 1)")
    require(nHashes >= 2, "signature needs at least 2 hashes")
    (1 to nHashes).filter(nHashes % _ == 0)
      .map(b => (b, nHashes / b))
      .minBy { case (b, r) =>
        (math.abs(math.pow(1.0 / b, 1.0 / r) - threshold), b) }
  }

  /** End-to-end near-duplicate pairs at a requested Jaccard threshold: the
    * banding comes from [[bandingFor]], candidates from the (hot-bucket-
    * capped) banded join, and every candidate is verified with the exact
    * broadcast per-pair Jaccard — the scale shape the benched
    * d_jaccard_pairs_lsh pins, behind a one-argument knob. */
  def nearDupPairsAt(seam: Seam, df: DataFrame, idCol: String,
                     shinglesCol: String, threshold: Double,
                     nHashes: Int = 128): DataFrame = {
    val (b, r) = bandingFor(threshold, nHashes)
    val withSig = df.filter(size(col(shinglesCol)) > 0)
      .withColumn("_hs", shingleBaseHashes(shinglesCol))
      .withColumn("_sig", minhashSignature("_hs", nHashes))
    val candidates = lshCandidatePairs(lshBands(withSig, idCol, "_sig", b, r), idCol)
    jaccardOnPairs(seam, candidates, df, idCol, shinglesCol)
      .filter(col("jaccard") >= threshold)
  }

  /** LSH banding: explode signature into (bandId, bandHash) rows.
    * bands × rowsPerBand must equal the signature length. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val parts = (0 until rowsPerBand)
        .map(r => s"CAST(element_at($sigCol, ${b * rowsPerBand + r + 1}) AS STRING)")
        .mkString(", ")
      struct(lit(b).as("band"), expr(s"md5(concat_ws(',', $parts))").as("band_hash"))
    }
    df.select(col(idCol), explode(array(bandCols: _*)).as("bh"))
      .select(col(idCol), col("bh.band").as("band"), col("bh.band_hash").as("band_hash"))
  }

  /** Candidate pairs sharing at least one LSH band (a < b). GroupBy-bucket +
    * in-bucket pair expansion instead of a self-join: the self-join
    * evaluated the whole signature pipeline once per side, and candidate
    * buckets are small by construction (that is the point of banding).
    *
    * Pair expansion is STREAMED: two chained `posexplode` generators with
    * a `j > i` guard yield pairs row-at-a-time through the operator
    * iterator, so no bucket's pair set is ever resident at once. (The
    * prior `combinations(2)` UDF forced each bucket's pairs into one
    * in-memory Seq before exploding — a 65k-id bucket is ~2.1e9 resident
    * tuples in a single eval, an executor OOM rather than a slow stage.)
    *
    * `maxBucketSize` now bounds quadratic WORK, not survival: a band hash
    * shared by a large fraction of the corpus (boilerplate shingles,
    * near-empty docs) would emit |bucket|² pairs and stall the stage. The
    * default (2048 ids ⇒ ≤ ~2.1M pairs per bucket) keeps any one bucket's
    * pair volume bounded at 100 TB corpus scale. Buckets above the cap are
    * DROPPED — their members can still pair through their other (bands−1)
    * bands, so recall degrades only for pairs whose ONLY agreeing band is
    * the hot one; in practice hot buckets are degenerate content the
    * verify stage would reject anyway. Every dropped bucket is WARN-logged
    * executor-side (band, hash, size), and a caller-supplied
    * `droppedBuckets` accumulator counts them for pipeline-level audit
    * (task retries may overcount — it is an audit signal, not an exact
    * statistic); [[oversizedBuckets]] remains the queryable inspection. */
  def lshCandidatePairs(bandsDF: DataFrame, idCol: String,
                        maxBucketSize: Int = 2048,
                        droppedBuckets: Option[org.apache.spark.util.LongAccumulator] = None): DataFrame = {
    val cap = maxBucketSize
    val acc = droppedBuckets
    val keepUdf = udf((band: Int, hash: String, n: Int) => {
      val keep = n <= cap
      if (!keep) {
        acc.foreach(_.add(1L))
        lshLog.warn(s"LSH hot bucket dropped: band=$band band_hash=$hash " +
          s"size=$n cap=$cap (members can still pair via their other bands)")
      }
      keep
    })
    bandsDF.groupBy("band", "band_hash")
      .agg(sort_array(collect_set(col(idCol).cast("long"))).as("ids"))
      .filter(size(col("ids")) > 1 &&
        keepUdf(col("band"), col("band_hash"), size(col("ids"))))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("i"), col("id_a"), posexplode(col("ids")).as(Seq("j", "id_b")))
      .filter(col("j") > col("i"))
      .select(col("id_a"), col("id_b"))
      // repartition by pair key BEFORE the distinct: the exchange then
      // carries the raw pair stream (stream-through shuffle writers, no
      // aggregation state), and the dedup hash map builds POST-exchange on
      // each partition's share. Without this, distinct's partial aggregate
      // runs inside the explode stage, whose output is amplified ~|bucket|×
      // relative to its input — at a 100× duplicate-heavy corpus those 32
      // hash maps spilled 31.7 GB (max task 939 MB) while the repartitioned
      // plan spills nothing (measured, PERF.md round 8). Cross-band pair
      // duplication (a twin pair agrees on ALL bands) makes the raw stream
      // ~bands× the deduped one — a few GB more shuffle for tens of GB less
      // spill I/O, and the same single-exchange plan (the repartition
      // satisfies distinct's clustering, so no second exchange appears).
      .repartition(col("id_a"), col("id_b"))
      .distinct()
  }

  /** executor-side audit logger for the LSH hot-bucket cap */
  @transient private lazy val lshLog =
    org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup.lsh")

  /** the buckets a `maxBucketSize` cap would drop — (band, band_hash,
    * bucket_size), queryable so pipelines can log/audit dropped-pair volume
    * instead of losing it silently */
  def oversizedBuckets(bandsDF: DataFrame, idCol: String,
                       maxBucketSize: Int): DataFrame =
    bandsDF.groupBy("band", "band_hash")
      .agg(countDistinct(col(idCol)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)

  /** exact n-gram Jaccard pairs over a shingle posting join; emits
    * (id_a, id_b, jaccard) for pairs sharing >= 1 shingle. */
  def jaccardPairs(seam: Seam, df: DataFrame, idCol: String,
                   shinglesCol: String, threshold: Double): DataFrame = {
    // set size rides along the posting explode, so the per-pair union size
    // is recovered from the grouped rows themselves (max of a functionally-
    // dependent column) — no separate sizes relation, no post-agg joins.
    // Persisting the postings makes the self-join read the (expensive)
    // shingle projection once instead of once per side.
    val posts = seam.persist(df.select(col(idCol), size(col(shinglesCol)).as("n_sh"),
        explode(col(shinglesCol)).as("sh")))
    val l = posts.select(col("sh"), col(idCol).as("id_a"), col("n_sh").as("n_a"))
    val r = posts.select(col("sh"), col(idCol).as("id_b"), col("n_sh").as("n_b"))
    l.join(r, "sh").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"), max("n_a").as("n_a"), max("n_b").as("n_b"))
      .withColumn("jaccard",
        round(col("inter") / (col("n_a") + col("n_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-document duplicate k-gram coverage — per document, the fraction
    * of its DISTINCT word k-grams that occur in at least one OTHER
    * document (plus the gram count). The per-doc signal behind exact-
    * substring training-data dedup (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL 2022 — public): documents
    * whose gram mass is mostly shared are boilerplate/copies even when no
    * single pair crosses a Jaccard threshold.
    *
    * Scale shape: both aggregations and the join are keyed on the gram —
    * two gram-hash shuffles over O(total grams) rows, never a document
    * pair join. Shingles arrive distinct per doc ([[wordShingles]]), so
    * the gram→doc count IS the containing-doc count.
    *
    * Plan shape (r15 rebuild — the r14 span-dedup playbook applied):
    * shingles are DISTINCT per doc ([[wordShingles]]), so a gram whose
    * corpus-wide count is 1 has exactly ONE owner, identifiable as
    * min(doc) inside the same aggregate — which inverts the coverage:
    * n_cov = n_grams − (this doc's count-1 grams). That removes the join
    * of the amplified posting stream back onto itself (the old plan
    * exchanged the exploded stream TWICE, once for the gram count and once
    * as the join probe, and persisted the exploded stream — the cache
    * class the t_dsir_select negative ruled out). Now the amplified stream
    * crosses the wire ONCE, map-side partially aggregated to distinct
    * grams per task; what's cached is the COMPACT pre-amplification
    * (id, shingles) projection, which both the totals projection and the
    * explode read so the caller's shingle UDF runs once. The column is
    * expected to carry HASHED grams ([[wordShingleHashes]]) — the exchange
    * keys on the gram, and an 8-byte key cuts exchanged bytes ~5x vs
    * shingle strings. A 64-bit collision merges two grams' doc counts —
    * one-sided and vanishing for a ">= 2 docs" threshold signal (~1e-7 at
    * 1M distinct grams; even at 10^12 corpus grams the chance any count is
    * off stays in the percent range, far below the signal's own noise). */
  def dupGramCoverage(seam: Seam, docs: DataFrame, idCol: String,
                      shinglesCol: String): DataFrame = {
    val compact = seam.persist(docs.select(col(idCol), col(shinglesCol)))
    val totals = compact.select(col(idCol), size(col(shinglesCol)).as("n_grams"))
    // ONE gram-keyed pass: per gram, (occurrence count, smallest owner).
    // count==1 ⟹ min(doc) IS the sole owner; grams with count >= 2 are
    // covered for every owner, so they never need to flow back per-doc.
    val solo = compact.select(col(idCol), explode(col(shinglesCol)).as("_cg"))
      .groupBy("_cg").agg(count(lit(1)).as("_ndocs"), min(col(idCol)).as(idCol))
      .filter(col("_ndocs") === 1)
      .groupBy(idCol).agg(count(lit(1)).as("_nsolo"))
    totals.join(solo, Seq(idCol), "left")
      .select(col(idCol),
        (round((col("n_grams") - coalesce(col("_nsolo"), lit(0L))) /
          greatest(col("n_grams"), lit(1)), 4) + 0.0).as("dup_gram_frac"),
        col("n_grams").cast("long").as("n_grams"))
  }

  /** Candidate-pair count above which the verify stage stops forcing a
    * broadcast of the pair list. The per-bucket cap in [[lshCandidatePairs]]
    * bounds any ONE bucket's pairs, not their global sum — a boilerplate-
    * heavy crawl emits a candidate stream proportional to (dup groups ×
    * group²/2), which at the adversarial regime is GBs: forcing that
    * through a broadcast trips the 8 GB broadcast hard limit or OOMs the
    * driver. 4M pairs ≈ 64 MB of key data (a few hundred MB as a hashed
    * relation) — comfortably broadcastable; above it the pair list joins by
    * shuffle instead (the same size-routing discipline Engine.sync applies
    * to manifests). */
  val MaxBroadcastPairs: Long = 4000000L

  /** Join a candidate (id_a, id_b) pair list against two per-id payload
    * sides, routing the physical strategy by the MEASURED pair count:
    * broadcast the pair list when it is small (big sides never shuffle),
    * shuffle-hash join on the pair keys when it is not (the payload shuffle
    * is linear and affordable; an oversized forced broadcast is a hard
    * failure). The pair list is persisted in `seam` so the count does not
    * recompute candidate generation. `l` must carry `id_a` (+ payload), `r`
    * must carry `id_b` (+ payload).
    *
    * `maxBroadcastPairs < 0` (the default) reads the session conf
    * `spark.graft.dedup.maxBroadcastPairs` (falling back to
    * [[MaxBroadcastPairs]]) — deployments size the broadcast budget to
    * their driver/executor memory without touching pipeline code. */
  def routedPairJoin(seam: Seam, pairs: DataFrame, l: DataFrame, r: DataFrame,
                     maxBroadcastPairs: Long = -1L): DataFrame = {
    val p = seam.persist(pairs.select(col("id_a").cast("long").as("id_a"),
      col("id_b").cast("long").as("id_b")))
    if (p.count() <= resolveMaxBroadcastPairs(pairs, maxBroadcastPairs))
      l.join(broadcast(p), Seq("id_a")).join(r, Seq("id_b"))
    else
      // shuffle_hash on the pair side: both joins repartition by their key
      // and hash-build the (smaller) pair partitions — no sort of the
      // payload side, no size-estimate gamble on a broadcast.
      l.join(p.hint("shuffle_hash"), Seq("id_a"))
        .join(r, Seq("id_b"))
  }

  private def resolveMaxBroadcastPairs(df: DataFrame,
                                       maxBroadcastPairs: Long): Long =
    if (maxBroadcastPairs >= 0) maxBroadcastPairs
    else df.sparkSession.conf
      .get("spark.graft.dedup.maxBroadcastPairs", MaxBroadcastPairs.toString)
      .toLong

  /** Semi-join a payload side down to the ids a candidate pair list
    * touches, routing by the MEASURED distinct-id count — the same
    * discipline as [[routedPairJoin]], applied to the id projection. The
    * id set is bounded by 2×|pairs| rows of ONE long each (half a pair
    * row), so the broadcast budget is `2 × maxBroadcastPairs`; above it
    * the semi-join shuffles on `idCol` instead of forcing an unbounded
    * broadcast ("small by construction" is not a bound — a boilerplate
    * crawl's candidate explosion reaches the id set too). `ids` is
    * persisted in `seam` for the count. */
  def routedSemiJoin(seam: Seam, payload: DataFrame, ids: DataFrame,
                     idCol: String, maxBroadcastPairs: Long = -1L): DataFrame = {
    val p = seam.persist(ids)
    if (p.count() <= 2 * resolveMaxBroadcastPairs(ids, maxBroadcastPairs))
      payload.join(broadcast(p), Seq(idCol), "left_semi")
    else payload.join(p.hint("shuffle_hash"), Seq(idCol), "left_semi")
  }

  /** 64-bit-hashed twin of a shingle array column: per-element xxhash64,
    * computed row-side BEFORE a join carries the set. Jaccard / containment
    * over the hashed sets equals the string-set value unless two DISTINCT
    * shingles collide in 64 bits (~n²/2⁶⁵ per document pair — at 10⁴
    * shingles a doc that is ~10⁻¹²; even one collision moves the ratio by
    * ~1/n, below the 4-decimal rounding the verify emits). The payload a
    * verify join exchanges shrinks from k words × avg word length per
    * shingle (~40 B for 5-grams) to 8 B — measured ~6× less shuffle and an
    * order less spill on the 100× adversarial d_delta_dedup run (PERF.md
    * r12). xxhash64 evaluates per element inside the transform lambda —
    * one O(len) hash per shingle, linear per row (the O(n²) lambda-inlining
    * trap [[wordShingles]] documents needs a sliced ALIAS, not a
    * per-element function). */
  def hashedShingles(shinglesCol: String): Column =
    transform(col(shinglesCol), s => xxhash64(s))

  /** exact Jaccard evaluated ONLY on given (id_a, id_b) pairs — the verify
    * stage after LSH blocking: one array_intersect per pair over the two
    * (distinct) shingle sets, no posting self-join, no quadratic blowup
    * ([[pairStats]] has the plan shape). A pair sharing no gram verifies
    * to 0.0; a pair whose id is absent from `df` drops. */
  def jaccardOnPairs(seam: Seam, pairs: DataFrame, df: DataFrame, idCol: String,
                     shinglesCol: String, maxBroadcastPairs: Long = -1L): DataFrame =
    pairStats(seam, pairs, df, idCol, shinglesCol, maxBroadcastPairs)
      .withColumn("jaccard", round(col("_inter") /
        (col("_n_a") + col("_n_b") - col("_inter")), 4))
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Pair-carry intersection stats — per candidate pair, the shared-gram
    * count plus both set sizes: (id_a, id_b, _inter, _n_a, _n_b). The
    * common core under Jaccard (union from sizes) and containment (either
    * size as denominator). The pair list joins via [[routedPairJoin]]
    * (broadcast below [[MaxBroadcastPairs]] candidates, shuffle above),
    * carrying [[hashedShingles]] longs rather than the shingle strings:
    * set sizes and intersections are unchanged up to 64-bit collisions
    * (contract documented there), and the verify exchange narrows ~5-6×.
    * Each side sizes its DISTINCT set (array_distinct), so a shingles
    * column with duplicate elements scores on sets; array_intersect
    * dedupes by definition.
    *
    * A posting-join verify (explode each candidate doc's grams once,
    * count co-occurrence per pair) was measured against this carry and
    * deleted: at the 100× adversarial regime it removed the spill but
    * paid 2.3× shuffle and 1.86× wall (PERF.md r13). */
  def pairStats(seam: Seam, pairs: DataFrame, df: DataFrame, idCol: String,
                shinglesCol: String, maxBroadcastPairs: Long = -1L): DataFrame =
    routedPairJoin(seam, pairs,
      df.select(col(idCol).cast("long").as("id_a"),
        array_distinct(hashedShingles(shinglesCol)).as("_shs_a")),
      df.select(col(idCol).cast("long").as("id_b"),
        array_distinct(hashedShingles(shinglesCol)).as("_shs_b")),
      maxBroadcastPairs)
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_shs_a"), col("_shs_b"))).cast("long").as("_inter"),
        size(col("_shs_a")).as("_n_a"), size(col("_shs_b")).as("_n_b"))

  /** SimHash over a words-array column: distinct words hashed (portable
    * md5-60-bit), bit b of the result set iff the signed sum of word-hash
    * bits is positive. One linear pass per row. */
  def simhash(wordsColName: String, bits: Int = 32): Column = {
    val f = udf((ws: Seq[String]) => {
      val hs = ws.distinct.map(hash60Scala)
      var out = 0L
      var b = 0
      while (b < bits) {
        var s = 0L
        for (h <- hs) s += (if (((h >> b) & 1L) == 1L) 1L else -1L)
        if (s > 0) out |= (1L << b)
        b += 1
      }
      out
    })
    f(col(wordsColName))
  }

  /** near-dup pairs by SimHash: block on the top `prefixBits` bits, then
    * exact hamming distance <= maxHamming within each block. */
  def simhashPairs(df: DataFrame, idCol: String, simhashCol: String,
                   bits: Int, prefixBits: Int, maxHamming: Int): DataFrame = {
    val withBlock = df.withColumn("blk",
      expr(s"shiftright($simhashCol, ${bits - prefixBits})"))
    val l = withBlock.select(col("blk"), col(idCol).as("id_a"), col(simhashCol).as("sh_a"))
    val r = withBlock.select(col("blk"), col(idCol).as("id_b"), col(simhashCol).as("sh_b"))
    l.join(r, "blk").filter(col("id_a") < col("id_b"))
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Content-defined chunking (the rsync/FastCDC idea): a document splits
    * at positions where a hash of the trailing `w`-char window lands in a
    * fixed fraction of the hash space, so chunk boundaries survive
    * insertions/deletions elsewhere in the document — the property that
    * makes chunk-level dedup robust where fixed-size blocks shift. The
    * boundary rule here is "top 4 bits of md5(window) are zero" (p=1/16,
    * mean chunk ≈ w+16 chars) — md5 chosen so a SQL oracle replays the
    * EXACT boundaries (`substr(md5(substr(text,i-w+1,w)),1,1)='0'`);
    * production would swap in a gear/Rabin O(1) rolling hash behind the
    * same contract (the boundary SET is the contract, not the hash).
    * Deterministic, pure per-document — runs in a `flatMap`. */
  def cdcChunks(text: String, w: Int = 8): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    // CODE-POINT indexing, not UTF-16 units: SQL substr counts code
    // points, so windowing by Java chars would split surrogate pairs on
    // non-BMP text and the two boundary sets would diverge (the UTF-8
    // encoding of a lone surrogate is a replacement sequence, changing
    // the window's md5)
    val cps = text.codePoints().toArray
    def cpString(from: Int, until: Int): String =
      new String(cps, from, until - from)
    val md = java.security.MessageDigest.getInstance("MD5")
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = w
    while (i <= cps.length) {
      val h = md.digest(cpString(i - w, i)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if ((h(0) & 0xF0) == 0) bounds += i
      md.reset()
      i += 1
    }
    val starts = 0 +: bounds.toSeq
    val ends = bounds.toSeq :+ cps.length
    starts.zip(ends).collect { case (s, e) if e > s => cpString(s, e) }
  }

  /** Multi-band hamming LSH pairs over any integer hash column: split the
    * `bits`-bit hash into `bands` equal slices, candidate = any shared
    * (band index, band value), then exact hamming verify. Unlike the
    * single-prefix block above, banding carries a RECALL GUARANTEE by
    * pigeonhole: with maxHamming < bands, the differing bits cannot touch
    * every band, so every qualifying pair shares at least one intact band
    * — exact recall, candidate cost still bucket-bounded (the minhash-LSH
    * shape applied to hamming space). Shuffle is band-keyed; no all-pairs
    * join ever forms.
    *
    * The pair stream is deliberately aggregate-free (see below); it
    * requires one row per `idCol` — duplicate (id, hash) input rows would
    * multiply the emitted pair rows. `dedupInput` (default ON) enforces
    * that with a `dropDuplicates(idCol, hashCol)` on the PRE-explode
    * input — linear and tiny relative to the pair stream, the safe
    * default for arbitrary callers. Callers whose input is unique per id
    * by construction (the feature-extraction stages emit exactly that)
    * pass `dedupInput = false` to keep the benched aggregate-free plan;
    * deduping the quadratic pair stream instead is the measured scale
    * cliff. */
  def bandedHammingPairs(df: DataFrame, idCol: String, hashCol: String,
                         bits: Int, bands: Int, maxHamming: Int,
                         dedupInput: Boolean = true): DataFrame = {
    require(bits % bands == 0, "bits must divide evenly into bands")
    require(maxHamming < bands,
      "recall guarantee needs maxHamming < bands (pigeonhole)")
    val w = bits / bands
    val mask = (1L << w) - 1
    // band count is a Scala-side constant, so the band slices unroll to a
    // literal array of Column expressions — no SQL-string interpolation of
    // the caller's column name (which would break on names needing quoting)
    val bandSlices = (0 until bands).map(i =>
      shiftright(col(hashCol), i * w).bitwiseAND(lit(mask)))
    val in = if (dedupInput) df.dropDuplicates(idCol, hashCol) else df
    val banded = in.select(col(idCol), col(hashCol),
        posexplode(array(bandSlices: _*)).as(Seq("bi", "bv")))
    val l = banded.select(col("bi"), col("bv"),
      col(idCol).as("id_a"), col(hashCol).as("h_a"))
    val r = banded.select(col("bi"), col("bv"),
      col(idCol).as("id_b"), col(hashCol).as("h_b"))
    // A pair may collide in several bands — emit once, WITHOUT a distinct:
    // both hashes are in hand after the join, so "is this the FIRST band
    // the pair agrees on?" is a pure per-row computation, and filtering
    // bi == firstMatch keeps exactly one copy per pair. The distinct it
    // replaces was the scale cliff: its partial aggregate ran inside the
    // bucket-join stage, whose output is quadratic per bucket (every
    // hot-bucket task hashed its whole ~|bucket|²/2 pair stream — measured
    // 7.5 GB single-task spill at 30× corpus inflation; the map-side
    // filter runs the same regime with zero spill).
    def slice(h: Column, i: Int): Column =
      shiftright(h, i * w).bitwiseAND(lit(mask))
    val firstMatch = (0 until bands).map(i =>
      when(slice(col("h_a"), i) === slice(col("h_b"), i), lit(i))
        .otherwise(lit(bands))).reduce(least(_, _))
    l.join(r, Seq("bi", "bv")).filter(col("id_a") < col("id_b"))
      .filter(col("bi") === firstMatch)
      .withColumn("hamming", expr("bit_count(h_a ^ h_b)"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over an undirected pair set — the step between
    * "near-dup pairs" and "deduplicated corpus": pairs are only locally
    * transitive (A~B, B~C need not imply the pair A~C was emitted), so
    * survivor selection must group by the transitive closure, else chains
    * over-keep or over-drop.
    *
    * Returns (id, comp) for every id appearing in `edges`, comp = the
    * minimum id reachable from it (the canonical representative).
    *
    * Algorithm: min-label propagation WITH pointer jumping — each round
    * every node takes min(own label, neighbors' labels), then shortcuts
    * through its label's own label (label(label(x))). The shortcut makes
    * each round double the propagation distance, so convergence is
    * O(log diameter) rounds — a pathological 100-link duplicate chain
    * (boilerplate-heavy crawl data) converges in ~8 rounds where plain
    * propagation needs 100 and hits the iteration cap. Per round this is
    * two equi-joins + one groupBy (edge join on dst, label self-join); the
    * per-round eager checkpoint materializes the new labels AND carries the
    * convergence count as an observed metric in the same job, so lineage
    * never stacks beyond one iteration and no round pays a second pass. This is the shortcutting half of
    * the large-star/small-star family (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) without the edge-set
    * rewriting — the label table shrinks the same way, the (persisted)
    * edge set is scanned per round.
    *
    * Reference behavior twin: the reference dedups by dropping one side of
    * each verified pair (vectordb upsert keeps first-write); this operator
    * is the corpus-scale generalization that makes the survivor choice
    * well-defined on chains. */
  def connectedComponents(edges: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b",
                          maxIter: Int = 25): DataFrame = Seam.closedOnFailure { s =>
    // NO distinct on the symmetrized edge stream: min-label propagation is
    // IDEMPOTENT under duplicate edges (min over neighbors is unchanged by
    // repeats), so deduping here would spend a full shuffle + aggregate
    // over 2|E| purely to shrink the per-round join input — at 30× pair
    // inflation that aggregate was the stage's dominant spill. Callers
    // that pass duplicate edges just pay proportional join cost, never a
    // wrong answer.
    val sym = s.persist(edges
      .select(col(idACol).cast("long").as("src"), col(idBCol).cast("long").as("dst"))
      .union(edges.select(col(idBCol).cast("long").as("src"), col(idACol).cast("long").as("dst"))))
    // localCheckpoint per round: labels feeds the NEXT round's plan twice
    // (neighbor join + least/coalesce), so without lineage truncation the
    // logical plan doubles every iteration — O(2^rounds) plan nodes blows
    // the driver before the data is ever large. Checkpointing makes each
    // round's plan one join deep; on a cluster a reliable checkpoint
    // (HDFS) replaces the local one, same shape. Superseded rounds'
    // blocks are unpersisted EAGERLY below — waiting for the
    // ContextCleaner to GC them lets one round per iteration pile up in
    // the BlockManager for the rest of the session, squeezing execution
    // memory for whatever runs next in the same JVM. A failure (no
    // convergence included) closes the seam, so no round's labels stay.
    var labels = s.checkpoint(sym.select(col("src").as("id"))
      .distinct()
      .select(col("id"), col("id").as("comp")))
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("comp").as("nbr_comp")), Seq("dst"))
        .groupBy("src").agg(min("nbr_comp").as("nbr_comp"))
      val stepped = labels
        .join(nbrMin.select(col("src").as("id"), col("nbr_comp")), Seq("id"), "left")
        .select(col("id"), col("comp").as("old_comp"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // Pointer jumping (shortcutting): additionally replace comp with
      // label(comp). Labels are monotone non-increasing and label(x) <= x,
      // so each round DOUBLES the propagation distance — a diameter-d
      // chain converges in O(log d) rounds instead of O(d), removing the
      // long-chain cliff (a 100-link boilerplate dup chain: ~8 rounds).
      // Same per-round shape: one extra equi-join on the label table.
      // The convergence count rides the checkpoint's own materialization
      // job as an observed metric: 1 job per round, not a re-count.
      // coalesce: sum over an EMPTY label table is null (edges with zero
      // distinct ids), which must read as converged, not crash.
      // INVARIANT (ADVICE r17): the observed sum is accumulator-backed,
      // so a stage retry / speculative duplicate can OVER-count changed
      // rows — that only costs a spare round (the loop re-checks next
      // iteration); an UNDER-count is impossible (every committed task's
      // rows are accumulated at least once), so the loop can never exit
      // while labels are still moving. A refactor must preserve this
      // direction: convergence may be detected late, never early.
      val (next, m) = s.checkpointObserved(stepped
        .join(labels.select(col("id").as("comp"), col("comp").as("hop")),
          Seq("comp"), "left")
        .select(col("id"), col("old_comp"),
          least(col("comp"), coalesce(col("hop"), col("comp"))).as("comp")),
        "cc_changed", coalesce(
          sum(when(col("comp") =!= col("old_comp"), 1L).otherwise(0L)),
          lit(0L)).as("changed"))
      changed = m.getAs[Long]("changed")
      // `next` is eagerly materialized into its own blocks, so the
      // previous round's checkpoint is now dead weight — release it.
      s.release(labels)
      labels = next.select("id", "comp")
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds")
    s.release(sym, blocking = false)
    labels
  }

  /** embedding-cosine near-dup pairs (a < b, rounded cosine >= threshold).
    * Norms are computed once per vector before the pair join — the pairwise
    * stage then does ONE dot product per pair instead of three. */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double): DataFrame = {
    import graft.search.VectorSearch.dot
    val withNorm = df.select(col(idCol), col(vecCol),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    val l = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("v_a"), col("nrm").as("n_a"))
    val r = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("v_b"), col("nrm").as("n_b"))
    l.crossJoin(r).filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
