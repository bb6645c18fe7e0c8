package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Seam}
import graft.ops.CleanCorpus
import graft.store.CleanStateStore

/** The incremental cleaning pipeline must equal the batch funnel on the
  * union corpus AT EVERY STAGE, not just in the final survivor hash — the
  * d_delta_pipeline oracle pins the end state; this spec pins each
  * increment on a corpus engineered to hit every delta edge:
  *
  *  - batch doc exactly duplicating a STORED doc (dropped at exact stage);
  *  - batch docs exactly duplicating EACH OTHER (min batch id wins);
  *  - batch doc near-duplicating a stored doc (dropped at near stage);
  *  - batch docs near-duplicating each other;
  *  - quality-failing batch doc (dropped at quality);
  *  - batch doc contaminated by the STORED benchmark shingles;
  *  - batch HOLDOUT doc whose shingles REVOKE a stored survivor — the
  *    funnel's one non-monotone edge;
  *  - a second absorbed batch, so state-append (fps, bands, postings,
  *    tombstones, stats) is verified against the three-way union funnel.
  */
class DeltaPipelineSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  // ≥20 distinct-vocab words so the quality floor passes and shingle
  // overlap across docs is controlled by construction
  private def words(tag: String, n: Int = 30): String =
    (0 until n).map(i => s"$tag$i").mkString(" ")

  private def df(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  private def ids(d: DataFrame): Set[Long] =
    d.select("doc_id").as[Long].collect().toSet

  private def tmpDir(name: String): String = {
    val p = java.nio.file.Files.createTempDirectory(name)
    p.toFile.deleteOnExit()
    p.toString + "/state"
  }

  // the batch funnel on any corpus — the ground truth every increment
  // must reproduce
  private def funnel(corpus: DataFrame, hold: Column) =
    CleanCorpus.cleanCorpus(Seam.session, corpus, "doc_id", "text", Some(hold))

  test("applyBatch equals the union funnel at every stage, revocation included") {
    val holdoutIds = Set(5L, 250L)
    val hold = col("doc_id").isin(holdoutIds.toSeq: _*)

    val survivorText = words("alpha") // stored survivor the batch will revoke
    val stored = df(Seq(
      1L -> survivorText,
      2L -> words("beta"),
      3L -> (words("beta") + " tail"), // near-dup of 2 (append → jacc ≈ 0.96)
      4L -> words("gamma"), // unique stored survivor
      5L -> words("bench"), // STORED holdout member (benchmark doc)
      6L -> (words("bench", 10) + " " + words("delta", 25)), // contaminated by 5
      7L -> "too short", // fails quality
      8L -> words("epsilon")))

    val batch = df(Seq(
      201L -> words("beta"), // exact dup of stored 2 → dropped
      202L -> words("zeta"),
      203L -> (words("zeta") + " more"), // near-dup of 202 within batch
      204L -> (words("epsilon") + " tail"), // near-dup of stored 8
      205L -> ("  " + words("zeta").toUpperCase + "  "), // exact dup of 202 (normalized)
      206L -> "x", // fails quality
      207L -> (words("bench", 8) + " " + words("eta", 25)), // contaminated by STORED holdout 5
      250L -> (words("alpha", 12) + " " + words("theta", 20)), // batch HOLDOUT: shares alpha-shingles with stored 1
      208L -> words("iota")))

    val union = stored.union(batch)
    val truth = funnel(union, hold)

    val st = new CleanStateStore(spark, tmpDir("delta-pipe"))
    st.rebuild(stored, hold)

    // the stored funnel admitted doc 1 (nothing contaminated it yet)
    assert(ids(st.survivors()).contains(1L))

    val r = st.applyBatch(Seam.session, batch, union, hold)

    val batchIds = ids(batch)
    assert(ids(r.quality) === ids(truth.quality).intersect(batchIds))
    assert(ids(r.exactNew) === ids(truth.exactDeduped).intersect(batchIds))
    assert(ids(r.nearNew) === ids(truth.nearDeduped).intersect(batchIds))
    val truthFinal = ids(truth.decontaminated)
    assert(ids(r.finalNew) === truthFinal.intersect(batchIds))
    assert(ids(r.survivors) === truthFinal)

    // the engineered edges actually fired
    assert(!ids(r.exactNew).contains(201L), "exact dup vs stored must drop")
    assert(!ids(r.exactNew).contains(205L), "exact dup within batch must drop")
    assert(ids(r.exactNew).contains(202L), "min batch id wins its fp group")
    assert(!ids(r.nearNew).contains(204L), "near dup vs stored must drop")
    assert(!ids(r.nearNew).contains(203L), "near dup within batch must drop")
    assert(!ids(r.quality).contains(206L), "quality floor must drop")
    assert(!ids(r.finalNew).contains(207L),
      "batch doc sharing shingles with the STORED benchmark must drop")
    assert(!ids(r.finalNew).contains(250L), "holdout members never survive")
    assert(ids(r.revoked) === Set(1L),
      "the batch holdout doc's alpha-shingles must revoke stored survivor 1")
    assert(!ids(r.survivors).contains(1L))
  }

  test("degenerate batches: empty, all-filtered, and all-holdout") {
    val hold = col("doc_id").isin(5L, 260L)
    val stored = df(Seq(
      1L -> words("alpha"), 2L -> words("beta"), 5L -> words("bench")))
    val st = new CleanStateStore(spark, tmpDir("delta-edge"))
    st.rebuild(stored, hold)
    val storedSurvivors = ids(st.survivors())

    // empty batch: everything empty, survivors unchanged
    val empty = df(Seq.empty)
    val r0 = st.applyBatch(Seam.session, empty, stored, hold)
    assert(ids(r0.finalNew).isEmpty && ids(r0.revoked).isEmpty)
    assert(ids(r0.survivors) === storedSurvivors)
    st.absorb(r0) // must not throw or corrupt state
    assert(ids(st.survivors()) === storedSurvivors)

    // all rows fail quality: same as empty past stage 2
    val junk = df(Seq(210L -> "x", 211L -> "tiny"))
    val r1 = st.applyBatch(Seam.session, junk, stored.union(junk), hold)
    assert(ids(r1.quality).isEmpty && ids(r1.survivors) === storedSurvivors)

    // all-holdout batch: nothing admitted, but its shingles can revoke
    val holdBatch = df(Seq(260L -> (words("alpha", 10) + " " + words("nu", 20))))
    val r2 = st.applyBatch(Seam.session, holdBatch, stored.union(holdBatch), hold)
    assert(ids(r2.finalNew).isEmpty)
    assert(ids(r2.revoked) === Set(1L))
    assert(ids(r2.survivors) === storedSurvivors - 1L)
    st.absorb(r2)
    assert(ids(st.survivors()) === storedSurvivors - 1L)
  }

  test("empty stored corpus: rebuild bootstraps, the first batch is the funnel") {
    val hold = col("doc_id").isin(5L)
    val st = new CleanStateStore(spark, tmpDir("delta-bootstrap"))
    st.rebuild(df(Seq.empty), hold)
    assert(st.exists && st.rawCount() === 0L)
    assert(ids(st.survivors()).isEmpty)
    val batch = df(Seq(
      201L -> words("zeta"),
      202L -> words("zeta"), // exact dup within the first batch
      5L -> words("bench")))  // holdout member
    val truth = funnel(batch, hold)
    val r = st.applyBatch(Seam.session, batch, batch, hold)
    assert(ids(r.survivors) === ids(truth.decontaminated))
    st.absorb(r)
    assert(ids(st.survivors()) === ids(truth.decontaminated))
  }

  test("streaming replay equals the batch funnel (revocation across micro-batches)") {
    // ids spread so the 4 ascending slices land: {1,2,5,8} | {201..203} |
    // {301..305} | {401} — doc 305 (holdout) arrives two batches after
    // stored survivor 8 and must retract it through the stream's absorb
    val hold = col("doc_id").isin(5L, 305L)
    val corpus = df(Seq(
      1L -> words("alpha"), 2L -> words("beta"),
      5L -> words("bench"), 8L -> words("epsilon"),
      201L -> words("zeta"), 202L -> (words("beta") + " tail"),
      203L -> words("beta"),
      301L -> words("zeta"), 302L -> (words("zeta") + " end"),
      303L -> words("kappa"),
      305L -> (words("epsilon", 10) + " " + words("mu", 20)),
      401L -> words("omega")))
    val got = graft.streaming.StreamingIngest
      .cleanPipelineAvailableNow(spark, corpus, hold, numFiles = 4)._1
    val truth = funnel(corpus, hold)
    assert(ids(got) === ids(truth.decontaminated))
    assert(!ids(got).contains(8L), "late-arriving holdout must revoke doc 8")
    assert(ids(got).contains(401L))
  }

  test("absorbed batches chain: two increments equal the three-way union funnel") {
    val hold = col("doc_id").isin(5L, 305L)
    val stored = df(Seq(
      1L -> words("alpha"),
      2L -> words("beta"),
      5L -> words("bench"),
      8L -> words("epsilon")))
    val batch1 = df(Seq(
      201L -> words("zeta"),
      202L -> (words("beta") + " tail"), // near-dup of stored 2
      203L -> words("beta"))) // exact dup of stored 2
    val batch2 = df(Seq(
      301L -> words("zeta"), // exact dup of ABSORBED batch1 doc 201
      302L -> (words("zeta") + " end"), // near-dup of absorbed 201
      303L -> words("kappa"),
      305L -> (words("epsilon", 10) + " " + words("mu", 20)))) // holdout: revokes stored 8

    val st = new CleanStateStore(spark, tmpDir("delta-chain"))
    st.rebuild(stored, hold)

    val r1 = st.applyBatch(Seam.session, batch1, stored.union(batch1), hold)
    val u2 = ids(funnel(stored.union(batch1), hold).decontaminated)
    assert(ids(r1.survivors) === u2)
    st.absorb(r1)
    assert(ids(st.survivors()) === u2, "absorbed state must serve the union survivors")

    val union3 = stored.union(batch1).union(batch2)
    val r2 = st.applyBatch(Seam.session, batch2, union3, hold)
    val truth3 = funnel(union3, hold)
    assert(ids(r2.survivors) === ids(truth3.decontaminated))
    assert(!ids(r2.exactNew).contains(301L),
      "exact dedup must see ABSORBED batch1 fingerprints")
    assert(!ids(r2.nearNew).contains(302L),
      "near dedup must see ABSORBED batch1 bands")
    assert(ids(r2.revoked) === Set(8L),
      "batch2's holdout doc must revoke the stored survivor via postings")
    st.absorb(r2)
    assert(ids(st.survivors()) === ids(truth3.decontaminated))

    // incremental stage counts equal the union funnel's counts
    val (nRaw, nQ, nE, nN, nF) = st.stageCounts()
    assert(nRaw === union3.count())
    assert(nQ === truth3.quality.count())
    assert(nE === truth3.exactDeduped.count())
    assert(nN === truth3.nearDeduped.count())
    assert(nF === truth3.decontaminated.count())
  }

  test("absorb releases its checkpoint snapshots on success and on a phase-1 failure") {
    // absorb snapshots its frames with localCheckpoint, and applyBatch
    // checkpoints its near-dup survivors and (over a non-empty minhash
    // index) deltaCandidates' pair set; those blocks live on the
    // checkpointed RDDs, so only an RDD-level unpersist frees them. Once
    // absorb and the seam owning applyBatch's result have closed, no RDD
    // created since the census began may still be persisted.
    val hold = col("doc_id").isin(5L)
    val stored = df(Seq(
      1L -> words("alpha"),
      2L -> words("beta"),
      5L -> words("bench")))
    val batch = df(Seq(
      201L -> words("zeta"),
      202L -> (words("beta") + " tail"))) // near-dup of stored 2
    val dir = tmpDir("delta-blocks")
    val st = new CleanStateStore(spark, dir)
    st.rebuild(stored, hold)
    // the stored survivors seed the minhash index, so applyBatch probes it
    // through deltaCandidates
    val cfg = graft.ops.CleanCorpusConfig()
    assert(new graft.store.MinhashIndexStore(spark, s"$dir/mh",
      cfg.nHashes, cfg.bands, cfg.rowsPerBand, cfg.shingleK).rowCount() > 0L)

    // phase-1 failure: the batch-size count runs a UDF that throws, while
    // the snapshots beside it complete
    val boom = udf { (id: Long) =>
      if (id > 0L) throw new IllegalStateException("injected absorb failure")
      true
    }
    val countsBefore = st.stageCounts()
    val census1 = new BlockCensus(spark)
    val err = intercept[Exception] {
      Seam.scoped { seam =>
        val r1 = st.applyBatch(seam, batch, stored.union(batch), hold)
        st.absorb(r1.copy(batchSource = r1.batchSource.filter(boom(col("doc_id")))))
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected absorb failure")))
    assert(census1.left.isEmpty,
      s"failed absorb left persisted RDDs: ${census1.left.mkString(",")}")
    assert(st.stageCounts() === countsBefore, "a phase-1 failure must not write state")

    // success
    val census2 = new BlockCensus(spark)
    Seam.scoped(seam => st.absorb(st.applyBatch(seam, batch, stored.union(batch), hold)))
    assert(census2.left.isEmpty,
      s"absorb left persisted RDDs: ${census2.left.mkString(",")}")
    assert(ids(st.survivors()) === ids(funnel(stored.union(batch), hold).decontaminated))
  }
}
