package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.DriverProbe

/** Unigram-LM tokenizer training (SentencePiece's default algorithm:
  * Kudo, "Subword Regularization: Improving Neural Network Translation
  * Models with Multiple Subword Candidates", ACL 2018 §3) — the second
  * tokenizer-training family next to [[Bpe]], and the one production
  * pipelines actually ship (LLaMA/T5 vocabularies are unigram-LM). Beyond-
  * reference operator: the reference counts tokens
  * (`src/utils/token-counter.ts`) but never learns a vocabulary.
  *
  * Like BPE, training runs on the word-frequency DICT, not the corpus: one
  * corpus-sized aggregation collapses the text into (word, count) rows,
  * and every EM iteration after that is a map over DISTINCT words with the
  * (vocab-sized) piece table broadcast — the 10× scale-stress shape that
  * keeps cost flat in corpus size for a fixed vocabulary.
  *
  * The algorithm per iteration is the real one, not the Viterbi-count
  * shortcut: full forward-backward over each word's segmentation lattice
  * (log-space, max-shifted) yields EXPECTED piece counts (soft EM), the
  * M-step renormalizes, and every `emItersPerPrune` iterations the
  * lowest-expected-count multi-char pieces are pruned (single chars are
  * kept unconditionally — coverage must stay total) until `targetSize`.
  * SentencePiece prunes by likelihood loss; expected-count pruning is the
  * standard cheap proxy and keeps the prune decision a one-pass sort.
  *
  * Determinism: expected counts are rounded to 9 decimals before ranking
  * (absorbing float non-associativity across partition merge order), and
  * all ties break on the piece string ascending — [[UnigramSpec]] pins the
  * distributed E-step against a sequential reference and Viterbi against
  * brute-force enumeration.
  */
object Unigram {

  final case class Piece(piece: String, logProb: Double)

  /** max piece length considered anywhere (seed, lattice, encode) */
  val MaxPieceLen = 8

  // ---- lattice primitives (pure, per word) ----

  private def logSumExp(xs: Seq[Double]): Double = {
    val m = xs.max
    if (m == Double.NegativeInfinity) m
    else m + math.log(xs.iterator.map(x => math.exp(x - m)).sum)
  }

  /** Viterbi segmentation: the max-log-prob split of `word` into vocab
    * pieces, ties broken toward the LONGER piece at the latest boundary
    * (deterministic). None when some character is not even a single-char
    * piece (cannot happen for a vocab seeded by [[learn]], which keeps all
    * corpus chars). */
  def viterbi(word: String, lp: collection.Map[String, Double]): Option[Seq[String]] = {
    val n = word.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - MaxPieceLen)
      while (i < j) {
        val piece = word.substring(i, j)
        lp.get(piece).foreach { p =>
          val cand = best(i) + p
          // strict > : on ties the EARLIEST i wins → the longest last piece
          if (cand > best(j)) { best(j) = cand; back(j) = i }
        }
        i += 1
      }
      j += 1
    }
    if (back(n) < 0 && n > 0) None
    else {
      val out = List.newBuilder[String]
      val rev = Seq.newBuilder[(Int, Int)]
      var k = n
      while (k > 0) { rev += ((back(k), k)); k = back(k) }
      rev.result().reverse.foreach { case (a, b) => out += word.substring(a, b) }
      Some(out.result())
    }
  }

  /** Forward-backward expected piece counts over one word's segmentation
    * lattice, scaled by `freq`: for each piece occurrence w[i,j),
    * exp(alpha(i) + lp(piece) + beta(j) − Z) · freq. Also returns the
    * word's log-likelihood Z·freq (for the EM monotonicity gate). */
  def expectedCounts(word: String, freq: Long,
      lp: collection.Map[String, Double]): (Iterator[(String, Double)], Double) = {
    val n = word.length
    val alpha = Array.fill(n + 1)(Double.NegativeInfinity)
    val beta = Array.fill(n + 1)(Double.NegativeInfinity)
    alpha(0) = 0.0
    var j = 1
    while (j <= n) {
      val cands = (math.max(0, j - MaxPieceLen) until j).flatMap { i =>
        lp.get(word.substring(i, j)).map(alpha(i) + _)
      }
      if (cands.nonEmpty) alpha(j) = logSumExp(cands)
      j += 1
    }
    beta(n) = 0.0
    var i2 = n - 1
    while (i2 >= 0) {
      val cands = ((i2 + 1) to math.min(n, i2 + MaxPieceLen)).flatMap { j2 =>
        lp.get(word.substring(i2, j2)).map(_ + beta(j2))
      }
      if (cands.nonEmpty) beta(i2) = logSumExp(cands)
      i2 -= 1
    }
    val z = alpha(n)
    if (z == Double.NegativeInfinity) (Iterator.empty, 0.0)
    else {
      val it = for {
        i <- (0 until n).iterator
        j <- (i + 1) to math.min(n, i + MaxPieceLen)
        p <- lp.get(word.substring(i, j)).iterator
        post = math.exp(alpha(i) + p + beta(j) - z)
        if post > 1e-12
      } yield (word.substring(i, j), post * freq)
      (it, z * freq)
    }
  }

  // ---- training ----

  /** corpus → (word, cnt) dict: the one corpus-sized aggregation */
  private def wordDict(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(Dedup.wordsArray(textCol)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** Train a unigram-LM vocabulary of ≤ `targetSize` pieces on the corpus.
    * `seedSize` bounds the initial candidate set (top substrings by
    * frequency); `emItersPerPrune` EM iterations run between prunes, each
    * prune keeping `pruneKeep` of the current multi-char pieces. Returns
    * pieces ranked by logProb desc (ties: piece asc). */
  def learn(docs: DataFrame, textCol: String, targetSize: Int,
            seedSize: Int = 2000, emItersPerPrune: Int = 2,
            pruneKeep: Double = 0.75): Seq[Piece] = {
    val spark = docs.sparkSession
    import spark.implicits._

    val words = wordDict(docs, textCol)
      .as[(String, Long)].rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // seed: every substring up to MaxPieceLen weighted by word freq, the
    // top `seedSize` by (count desc, piece asc) — one shuffle on the piece;
    // single chars ride along unconditionally for total coverage
    val subCounts = words.flatMap { case (w, c) =>
      for {
        i <- 0 until w.length
        j <- (i + 1) to math.min(w.length, i + MaxPieceLen)
      } yield (w.substring(i, j), c)
    }.reduceByKey(_ + _)
    val chars = subCounts.filter(_._1.length == 1).collect()
    // alphabet-bounded: ≤ 65536 distinct single UTF-16 chars can exist
    DriverProbe.record("unigram.alphabet", chars.length.toLong, 65536L)
    val multi = subCounts.filter(_._1.length > 1)
      .map { case (p, c) => (p, c) }
      .sortBy({ case (p, c) => (-c, p) })
      .take(math.max(0, seedSize - chars.length))
    DriverProbe.record("unigram.seed", multi.length.toLong, seedSize.toLong)
    var vocab: Map[String, Double] = {
      val all = (chars ++ multi).toMap
      val total = all.values.sum.toDouble
      all.map { case (p, c) => p -> math.log(c / total) }
    }

    var emIdx = 0
    def emRound(): Unit = {
      val bc = spark.sparkContext.broadcast(vocab)
      // E-step: distributed over distinct words; piece table broadcast.
      // (piece -> expected count) aggregates vocab-sized, collected to the
      // driver like SentencePiece's own M-step — the CORPUS never moves.
      val counts = words.mapPartitions { it =>
        val lp = bc.value
        val m = scala.collection.mutable.HashMap.empty[String, Double]
        it.foreach { case (w, c) =>
          val (ec, _) = expectedCounts(w, c, lp)
          ec.foreach { case (p, v) => m.update(p, m.getOrElse(p, 0.0) + v) }
        }
        Iterator(m)
      }.reduce { (a, b) =>
        b.foreach { case (p, v) => a.update(p, a.getOrElse(p, 0.0) + v) }
        a
      }
      bc.destroy()
      // runtime pin: the collected E-step aggregate is VOCAB-sized — every
      // emitted key flows through lp.get, so |counts| ≤ |vocab| holds by
      // construction and this fails the first run that breaks it
      DriverProbe.record(s"unigram.estep round $emIdx", counts.size.toLong,
        vocab.size.toLong)
      emIdx += 1
      // M-step with determinism rounding (see scaladoc); single chars are
      // floored into the table even when their posterior mass rounds away —
      // total coverage is a vocab invariant, not a learned property
      val rounded: Map[String, Double] = counts.iterator.map { case (p, v) =>
        p -> BigDecimal(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.filter { case (p, v) => v > 0 || p.length == 1 }.toMap
      val withSingles = vocab.keysIterator.filter(_.length == 1)
        .foldLeft(rounded)((m, c) => if (m.contains(c)) m else m + (c -> 1e-9))
      val total = withSingles.values.sum
      vocab = withSingles.map { case (p, v) =>
        p -> math.log(math.max(v, 1e-9) / total)
      }
    }

    // prune until at target: EM to convergence-ish, then drop the weakest
    // multi-char pieces by expected probability mass
    var guard = 0
    while (vocab.size > targetSize && guard < 50) {
      (0 until emItersPerPrune).foreach(_ => emRound())
      val (single, rest) = vocab.partition(_._1.length == 1)
      val keepN = math.max(targetSize - single.size,
        math.min(rest.size - 1, (rest.size * pruneKeep).toInt))
      val kept = rest.toSeq
        .sortBy { case (p, l) => (-l, p) }
        .take(math.max(0, keepN))
      vocab = single ++ kept
      guard += 1
    }
    emRound() // final renormalize over the pruned vocab
    words.unpersist(blocking = false)

    vocab.toSeq.map { case (p, l) => Piece(p, l) }
      .sortBy(pc => (-pc.logProb, pc.piece))
  }

  /** corpus log-likelihood under a piece table — the EM monotonicity gate's
    * measurement, distributed the same way as the E-step */
  def corpusLogLikelihood(docs: DataFrame, textCol: String,
                          pieces: Seq[Piece]): Double = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lp = pieces.map(p => p.piece -> p.logProb).toMap
    val bc = spark.sparkContext.broadcast(lp)
    val ll = wordDict(docs, textCol).as[(String, Long)].rdd
      .map { case (w, c) => expectedCounts(w, c, bc.value)._2 }
      .sum()
    bc.destroy()
    ll
  }

  /** Viterbi-encode `textCol` with a learned piece table: per row pure JVM
    * (the table rides the closure), no shuffle — the same map-side
    * application shape as [[Bpe.encode]]. Words containing characters
    * outside the vocabulary fall back to per-char symbols (coverage holds
    * for the training corpus by construction; this is for unseen text). */
  def encode(docs: DataFrame, textCol: String, pieces: Seq[Piece]): DataFrame = {
    val lp = pieces.map(p => p.piece -> p.logProb).toMap
    val enc = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val words = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
        words.flatMap { w =>
          viterbi(w, lp).getOrElse(w.map(_.toString))
        }.toArray
      }
    }
    docs.withColumn("tokens", enc(col(textCol)))
  }
}
