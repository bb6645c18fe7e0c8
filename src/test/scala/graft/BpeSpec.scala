package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.core.GraftSession
import graft.ops.Bpe

/** BPE vocabulary training (`ops/Bpe.scala`). The distributed learner's
  * delta-maintained pair counts are cross-validated merge-for-merge against
  * the sequential reference [[Bpe.learnLocal]] — any drift in the deltas
  * eventually flips an argmax, so merge-table equality over randomized
  * corpora is the correctness gate for the incremental maintenance. */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  /** minimal deterministic property runner (scalatestplus is not on the
    * offline classpath; plain scalacheck Gen + fixed seeds) */
  private def forAll[T](gen: Gen[T], n: Int)(f: T => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def wordCountsOf(texts: Seq[String]): Seq[(String, Long)] =
    texts.flatMap(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase))
      .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq

  test("learns the textbook merge sequence on a hand corpus") {
    // 'lo' dominates: low(5) lower(2) lowest(3) → pair (l,o) count 10
    val docs = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(3)("lowest")).mkString(" ")
    val df = Seq(docs).toDF("text")
    val merges = Bpe.learn(df, "text", numMerges = 3, minCount = 2)
    assert(merges.head.left === "l" && merges.head.right === "o" &&
      merges.head.pairCount === 10)
    assert(merges(1).left === "lo" && merges(1).right === "w" &&
      merges(1).pairCount === 10)
    // after (lo,w): low(5) + lowe(2+3=5 as 'low','e') → (low,e) count 5
    assert(merges(2).left === "low" && merges(2).right === "e" &&
      merges(2).pairCount === 5)
  }

  test("distributed merges equal the sequential reference on random corpora") {
    val wordGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val corpusGen = Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, wordGen))
    forAll(corpusGen, n = 12) { words =>
      val text = words.mkString(" ")
      val df = Seq(text).toDF("text")
      val dist = Bpe.learn(df, "text", numMerges = 8, minCount = 2)
      val local = Bpe.learnLocal(wordCountsOf(Seq(text)), numMerges = 8,
        minCount = 2)
      assert(dist === local)
    }
  }

  test("deterministic tiebreak: equal counts resolve (left asc, right asc)") {
    // "ab" and "cd" both appear twice, disjoint pairs, same count
    val df = Seq("ab ab cd cd").toDF("text")
    val merges = Bpe.learn(df, "text", numMerges = 2, minCount = 2)
    assert(merges.map(m => (m.left, m.right)) === Seq(("a", "b"), ("c", "d")))
    assert(merges.forall(_.pairCount === 2))
  }

  test("minCount stops the ladder; empty/short corpora learn nothing") {
    val df = Seq("xy xy qq").toDF("text")
    // (x,y)=2 qualifies at minCount=2; (q,q)=1 does not
    assert(Bpe.learn(df, "text", numMerges = 10, minCount = 2)
      .map(m => (m.left, m.right)) === Seq(("x", "y")))
    assert(Bpe.learn(Seq("a b c").toDF("text"), "text", 5) === Seq.empty)
    assert(Bpe.learn(Seq.empty[String].toDF("text"), "text", 5) === Seq.empty)
  }

  test("encode applies merges greedily by rank; tokens reassemble the word") {
    val train = Seq(("low low low low low lower lowest newest newest")).toDF("text")
    val merges = Bpe.learn(train, "text", numMerges = 6, minCount = 2)
    val toks = Bpe.encode(Seq("lowest newlow").toDF("text"), "text", merges)
      .select("tokens").as[Seq[String]].collect().head
    // segmentation may vary with the learned table, but token concat must
    // reassemble each word exactly, in order
    assert(toks.mkString === "lowestnewlow")
    // and the dominant word's learned unit is used whole
    val lowToks = Bpe.encode(Seq("low").toDF("text"), "text", merges)
      .select("tokens").as[Seq[String]].collect().head
    assert(lowToks === Seq("low"))
  }

  // ---- batched trainer (learnBatched / learnLocalBatched) ----

  test("batched(K=1) local twin is sequential BPE merge-for-merge") {
    val wordGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val corpusGen = Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, wordGen))
    forAll(corpusGen, n = 30) { words =>
      val wc = wordCountsOf(Seq(words.mkString(" ")))
      assert(Bpe.learnLocalBatched(wc, numMerges = 10, minCount = 2, batchK = 1)
        === Bpe.learnLocal(wc, numMerges = 10, minCount = 2))
    }
  }

  test("distributed batched equals the local batched twin on random corpora") {
    val wordGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd', 'e')).map(_.mkString))
    val corpusGen = Gen.chooseNum(5, 40).flatMap(n => Gen.listOfN(n, wordGen))
    forAll(corpusGen, n = 8) { words =>
      val text = words.mkString(" ")
      val df = Seq(text).toDF("text")
      val dist = Bpe.learnBatched(df, "text", numMerges = 10, minCount = 2,
        batchK = 4)
      val local = Bpe.learnLocalBatched(wordCountsOf(Seq(text)),
        numMerges = 10, minCount = 2, batchK = 4)
      assert(dist === local)
    }
  }

  test("batched(K=64) equals sequential BPE on interaction-free corpora") {
    // interaction-free: 2-char words (a merge consumes its whole word, so
    // no merge CREATES a pair) over pairwise-DISJOINT alphabets (no symbol
    // conflicts, so batching never defers a selection) — the regime where
    // batched must reproduce sequential's table exactly, order included
    val disjointWords = Seq("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op",
      "qr", "st", "uv", "wx", "yz", "01", "23", "45", "67", "89")
    val corpusGen = for {
      n <- Gen.chooseNum(2, disjointWords.length)
      words <- Gen.pick(n, disjointWords)
      counts <- Gen.listOfN(n, Gen.chooseNum(2L, 50L))
    } yield words.toSeq.zip(counts)
    forAll(corpusGen, n = 20) { wc =>
      val seqTable = Bpe.learnLocal(wc, numMerges = 50, minCount = 2)
      val batTable = Bpe.learnLocalBatched(wc, numMerges = 50, minCount = 2,
        batchK = 64)
      assert(batTable === seqTable)
      // and the whole table lands in ONE batched round
      assert(batTable.size === wc.count(_._2 >= 2))
    }
  }

  test("selectDisjoint: pairwise symbol-disjoint, order-preserving, top-first") {
    val candGen = Gen.chooseNum(0, 40).flatMap { n =>
      Gen.listOfN(n, for {
        a <- Gen.oneOf("a", "b", "c", "d", "e", "f")
        b <- Gen.oneOf("a", "b", "c", "d", "e", "f")
      } yield (a, b))
    }.map(_.distinct.zipWithIndex
      .map { case ((a, b), i) => (a, b, (100 - i).toLong) })
    forAll(candGen, n = 50) { cands =>
      val sel = Bpe.selectDisjoint(cands, k = 8)
      assert(sel.length <= 8)
      // every selected pair is a candidate, in candidate order
      assert(sel === cands.filter(sel.contains))
      // the top candidate is always selected
      if (cands.nonEmpty) assert(sel.headOption === cands.headOption)
      // pairwise disjointness over symbols AND merged outputs
      for (Seq(x, y) <- sel.combinations(2)) {
        val sx = Set(x._1, x._2, x._1 + x._2); val sy = Set(y._1, y._2, y._1 + y._2)
        assert(sx.intersect(sy).isEmpty, s"$x and $y share a string")
      }
      // maximality of the greedy scan: any unselected candidate conflicts
      // with an earlier selection (or the batch already reached k)
      if (sel.length < 8) {
        val usedBefore = scala.collection.mutable.HashSet.empty[String]
        cands.foreach { c =>
          if (sel.contains(c)) {
            usedBefore += c._1; usedBefore += c._2; usedBefore += (c._1 + c._2)
          }
          else assert(usedBefore(c._1) || usedBefore(c._2) ||
            usedBefore(c._1 + c._2), s"$c was skipped without a conflict")
        }
      }
    }
  }

  test("selectDisjoint defers a pair whose symbol is another's merged output") {
    // ("in","g") merges to "ing"; ("ing","s") consumes that output, so
    // batching the two would record a stale count for the second — it must
    // be deferred to a later round. Checked both directions, plus the
    // shared-output case ("a","bc") / ("ab","c") → "abc".
    assert(Bpe.selectDisjoint(
      Seq(("in", "g", 10L), ("ing", "s", 9L), ("x", "y", 8L)), k = 8)
      === Seq(("in", "g", 10L), ("x", "y", 8L)))
    assert(Bpe.selectDisjoint(
      Seq(("ing", "s", 10L), ("in", "g", 9L)), k = 8)
      === Seq(("ing", "s", 10L)))
    assert(Bpe.selectDisjoint(
      Seq(("a", "bc", 10L), ("ab", "c", 9L)), k = 8)
      === Seq(("a", "bc", 10L)))
  }

  test("batched training stays exact under output/symbol interactions") {
    // corpus where (i,n) then (in,g) then (ing,s) chain through each
    // other's outputs: every recorded pairCount must equal the count a
    // recount of the words state at that merge's ROUND START produces —
    // i.e. the 'as if merged alone' exactness claim, on the adversarial
    // corpus, and no (left,right) is ever emitted twice
    val wc = Seq(("wings", 7L), ("sing", 6L), ("king", 5L), ("in", 9L),
      ("ringing", 4L), ("gong", 3L), ("song", 2L))
    for (k <- Seq(2, 4, 64)) {
      val table = Bpe.learnLocalBatched(wc, numMerges = 20, minCount = 2, batchK = k)
      assert(table.map(m => (m.left, m.right)).distinct.size === table.size,
        s"duplicate merge emitted at K=$k")
      // replay: words state at each round start, recount each batch member
      var words: Seq[(Seq[String], Long)] =
        wc.map { case (w, c) => (w.map(_.toString), c) }
      var i = 0
      while (i < table.size) {
        // a round = maximal run of consecutive ranks selected together;
        // reconstruct it by greedy re-selection is overkill — instead use
        // the exactness invariant per member: count in the round-start
        // state. Round boundaries: recount state only advances when the
        // next merge's pair is affected by pending ones — conservatively
        // apply merges one round at a time via selectDisjoint replay.
        val counts = new scala.collection.mutable.HashMap[(String, String), Long]
        for ((syms, c) <- words; p <- syms.zip(syms.tail))
          counts(p) = counts.getOrElse(p, 0L) + c
        val cands = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }
          .take(Bpe.candidateFetch(k))
          .collect { case ((a, b), n) if n >= 2 => (a, b, n) }
        val batch = Bpe.selectDisjoint(cands, math.min(k, 20 - i))
        assert(batch.nonEmpty)
        batch.zipWithIndex.foreach { case ((l, r, c), j) =>
          val m = table(i + j)
          assert((m.left, m.right, m.pairCount) === ((l, r, c)),
            s"rank ${i + j} diverges from round-start recount at K=$k")
        }
        words = words.map { case (syms, n) =>
          (Bpe.mergeMulti(syms, batch.map(_._1), batch.map(_._2),
            batch.map(b => b._1 + b._2)), n)
        }
        i += batch.size
      }
    }
    // and the distributed delta-maintained learner agrees on this corpus
    // (staleness from a mid-round interaction would surface here first)
    val text = wc.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    val df = Seq(text).toDF("text")
    assert(Bpe.learnBatched(df, "text", numMerges = 20, minCount = 2, batchK = 4)
      === Bpe.learnLocalBatched(wc, numMerges = 20, minCount = 2, batchK = 4))
  }

  test("mergeMulti on one pair equals mergeOnce; disjoint pairs commute") {
    val symsGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")).map(_.toSeq))
    forAll(symsGen, n = 60) { syms =>
      assert(Bpe.mergeMulti(syms, Seq("a"), Seq("b"), Seq("ab"))
        === Bpe.mergeOnce(syms, "a", "b", "ab"))
      // (a,b) and (c,d) are symbol-disjoint: one fused pass == either
      // sequential order
      val fused = Bpe.mergeMulti(syms, Seq("a", "c"), Seq("b", "d"),
        Seq("ab", "cd"))
      val seq1 = Bpe.mergeOnce(Bpe.mergeOnce(syms, "a", "b", "ab"), "c", "d", "cd")
      val seq2 = Bpe.mergeOnce(Bpe.mergeOnce(syms, "c", "d", "cd"), "a", "b", "ab")
      assert(fused === seq1)
      assert(fused === seq2)
    }
  }

  test("TrainerProbe: every driver fetch reports vocab-bounded, hook sees each round, bound breach throws") {
    import graft.core.DriverProbe
    val events = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
    DriverProbe.reset()
    DriverProbe.hook = (site, rows, b) => events += ((site, rows, b))
    try {
      val docs = Seq("low lower lowest", "new newer newest", "wide wider widest")
        .toDF("text")
      val merges = Bpe.learnBatched(docs, "text", numMerges = 12, minCount = 1, batchK = 4)
      assert(merges.nonEmpty)
      assert(events.nonEmpty, "the trainer must report its argmax fetches")
      assert(events.forall { case (site, rows, bound) =>
        site.startsWith("bpe.argmax round ") && rows <= bound
      })
      assert(DriverProbe.maxRows === events.map(_._2).max)
      // rounds arrive in order from the single driver loop thread
      val rounds = events.map(_._1.stripPrefix("bpe.argmax round ").toInt)
      assert(rounds === rounds.sorted)
    } finally DriverProbe.hook = null
    // the runtime pin itself: a fetch above its vocab bound must throw
    // (the corpus-bounded-collect regression this probe exists to catch)
    val e = intercept[IllegalArgumentException] {
      DriverProbe.record("test.argmax round 0", rows = 100L, bound = 10L)
    }
    assert(e.getMessage.contains("test.argmax round 0 materialized 100 driver rows"))
    // a throwing hook never aborts the trainer that reports
    DriverProbe.hook = (_, _, _) => throw new RuntimeException("boom")
    try DriverProbe.record("test.argmax round 1", rows = 1L, bound = 1L)
    finally DriverProbe.hook = null
    DriverProbe.reset()
    assert(DriverProbe.maxRows === 0L)
  }

  test("encode matches a by-hand greedy application") {
    val merges = Seq(
      Bpe.Merge(0, "l", "o", "lo", 10),
      Bpe.Merge(1, "e", "s", "es", 8),
      Bpe.Merge(2, "lo", "w", "low", 7),
      Bpe.Merge(3, "es", "t", "est", 6))
    val toks = Bpe.encode(Seq("lowest").toDF("text"), "text", merges)
      .select("tokens").as[Seq[String]].collect().head
    // l o w e s t → lo (r0) → es (r1) → low (r2) → est (r3)
    assert(toks === Seq("low", "est"))
  }
}
