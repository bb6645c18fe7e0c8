package graft.store

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Seam
import graft.ops.{CleanCorpus, CleanCorpusConfig, Dedup, TextAnalysis}

/** Per-batch output of [[CleanStateStore.applyBatch]]. The `quality` /
  * `exactNew` / `nearNew` frames keep the batch's input columns (stage
  * semantics identical to [[graft.ops.CleanCorpusStages]], restricted to
  * the batch); the id frames carry one `idCol` column each.
  *
  * `newFps` / `finalPostings` / `batchHoldSh` are absorb plumbing: the
  * state deltas [[CleanStateStore.absorb]] appends, precomputed here so
  * absorbing re-runs no cleaning logic. */
final case class DeltaCleanResult(
    batchSource: DataFrame,
    quality: DataFrame,
    exactNew: DataFrame,
    nearNew: DataFrame,
    finalNew: DataFrame,
    revoked: DataFrame,
    survivors: DataFrame,
    newFps: DataFrame,
    finalPostings: DataFrame,
    batchHoldSh: DataFrame)

/** Persisted incremental-cleaning state — the [[MinhashIndexStore]] delta
  * pattern lifted to the WHOLE retention funnel (quality → exact dedup →
  * verified near-dup drop → benchmark decontamination). A corpus is cleaned
  * once with the batch funnel ([[CleanCorpus]] — [[rebuild]] runs exactly
  * it, so the two can never drift); afterwards each sync batch updates the
  * result through [[applyBatch]] at a cost that follows the BATCH, never
  * the accumulated corpus: every state table is only ever SCANNED under a
  * broadcast of a batch-derived build side — zero state-scale shuffles
  * (the same posture [[MinhashIndexStore.deltaCandidates]] pins, reference
  * analog: the reconciliation dataflow applied to cleaning,
  * `src/features/sync.ts:587-614`).
  *
  * Why the increment is exact (first-wins + monotonicity):
  *  - batch ids are strictly GREATER than stored ids (the sync contract —
  *    [[applyBatch]] documents it), so exact dedup's min-id canonical and
  *    near-dup's drop-the-larger rule can only ever drop BATCH docs, never
  *    evict stored survivors;
  *  - decontamination is the one non-monotone stage: a batch HOLDOUT doc
  *    adds shingles to the benchmark set and can newly contaminate a
  *    stored survivor — the REVOCATION path, answered by probing the
  *    stored survivors' posting table with the batch holdout shingles
  *    (broadcast: tiny) and recorded in an append-only tombstone list.
  *
  * Layout under `path/` (all writes via [[DirSwap]]; `stats/` LAST so
  * [[exists]] only observes complete state):
  *  - `fps/` — distinct normalized fingerprints of exact-dedup survivors
  *    (the canonical-per-group set; probing it answers "is this batch
  *    doc an exact dup of anything stored").
  *  - `mh/` — a [[MinhashIndexStore]] over the exact-dedup survivors
  *    (the near-dup candidate state; batch probes via `deltaCandidates`).
  *  - `kept4/` — final-survivor ids, append-only.
  *  - `revoked/` — tombstoned kept4 ids (decontamination revocations),
  *    append-only; the live survivor set is `kept4 − revoked`.
  *  - `holdsh/` — distinct holdout (benchmark) shingles seen so far.
  *  - `post4/` — (id, shingle) postings of live final survivors: the
  *    revocation probe target. At 100 TB this table is written bucketed
  *    by shingle hash so a probe is partition-pruned point reads; here it
  *    is scanned once per batch under a broadcast (no shuffle either way).
  *  - `stats/` — one row of per-stage totals (raw/quality/exact/near/
  *    final); answers staleness probes and the funnel counts without a
  *    data scan.
  */
final class CleanStateStore(
    spark: SparkSession, path: String,
    cfg: CleanCorpusConfig = CleanCorpusConfig(),
    idCol: String = "doc_id", textCol: String = "text") {

  private val fpsPath = path + "/fps"
  private val kept4Path = path + "/kept4"
  private val revokedPath = path + "/revoked"
  private val holdshPath = path + "/holdsh"
  private val post4Path = path + "/post4"
  private val statsPath = path + "/stats"

  private val mh = new MinhashIndexStore(spark, path + "/mh",
    cfg.nHashes, cfg.bands, cfg.rowsPerBand, cfg.shingleK, idCol)

  private def fs =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists: Boolean = fs.exists(new HPath(statsPath))

  def drop(): Unit =
    if (fs.exists(new HPath(path))) fs.delete(new HPath(path), true): Unit

  /** per-stage totals (n_raw, n_quality, n_exact, n_near, n_final) — the
    * union funnel counts, maintained incrementally; n_raw is the staleness
    * probe callers compare against their source count. Signature-memoized:
    * zero jobs until a swap rewrites the stats dir. */
  def stageCounts(): (Long, Long, Long, Long, Long) =
    graft.core.SourceStamp.memo(statsPath, "stageCounts") {
      val r = spark.read.parquet(statsPath).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    }

  def rawCount(): Long = if (!exists) 0L else stageCounts()._1

  /** live final-survivor ids: kept4 minus revocation tombstones.
    * All state-table opens go through [[graft.core.Tables.openParquet]]
    * (schema memoized behind the dir signature): a fresh open otherwise
    * pays footer-read schema inference per BATCH per table — ~6 small
    * jobs plus their driver latency per applyBatch (r18 timeline). */
  def survivors(): DataFrame =
    graft.core.Tables.openParquet(spark, kept4Path)
      .join(storedRevoked(), Seq(idCol), "left_anti")

  private def storedFps(): DataFrame = graft.core.Tables.openParquet(spark, fpsPath)
  private def storedHoldSh(): DataFrame = graft.core.Tables.openParquet(spark, holdshPath)
  private def storedPost4(): DataFrame = graft.core.Tables.openParquet(spark, post4Path)
  // ids are long by the store contract (the engine's doc keys); an empty
  // tombstone list is the common case until the first benchmark update
  private def storedRevoked(): DataFrame =
    if (fs.exists(new HPath(revokedPath))) graft.core.Tables.openParquet(spark, revokedPath)
    else {
      val sp = spark
      import sp.implicits._
      Seq.empty[Long].toDF(idCol)
    }

  private def shingled(df: DataFrame): DataFrame = df
    .withColumn("_ws", Dedup.wordsArray(textCol))
    .withColumn("_shs", Dedup.wordShingles("_ws", cfg.shingleK))

  /** full (re)build: run the BATCH funnel on the stored corpus and persist
    * every state table from its stage frames — the state is definitionally
    * what the batch funnel computed. Empty corpus still writes (empty)
    * state so a first absorb can bootstrap. */
  def rebuild(stored: DataFrame, isHoldout: Column): Unit = {
    drop()
    Seam.scoped { seam =>
      val st = CleanCorpus.cleanCorpus(seam, stored, idCol, textCol, Some(isHoldout), cfg)
      val kept4Ids = seam.persist(st.decontaminated.select(col(idCol)))
      val nRaw = st.corpus.count()
      val nQuality = st.quality.count()
      val nExact = st.exactDeduped.count()
      val nNear = st.nearDeduped.count()
      val nFinal = kept4Ids.count()
      DirSwap.swapInto(fs, path, fpsPath)(tmp =>
        st.exactDeduped.select(
            TextAnalysis.fingerprint(col(textCol)).as("_fp")).distinct()
          .write.mode(SaveMode.Overwrite).parquet(tmp))
      mh.rebuild(st.exactDeduped.select(col(idCol), col(textCol)), textCol)
      DirSwap.swapInto(fs, path, kept4Path)(tmp =>
        kept4Ids.write.mode(SaveMode.Overwrite).parquet(tmp))
      DirSwap.swapInto(fs, path, holdshPath)(tmp =>
        stored.filter(isHoldout)
          .withColumn("_ws", Dedup.wordsArray(textCol))
          .select(explode(Dedup.wordShingles("_ws", cfg.shingleK)).as("_sh"))
          .distinct()
          .write.mode(SaveMode.Overwrite).parquet(tmp))
      // postings re-derive the kept2-era shingles from source text (the
      // derivation is deterministic, so this equals the funnel's _shs)
      DirSwap.swapInto(fs, path, post4Path)(tmp =>
        shingled(st.decontaminated)
          .select(col(idCol), explode(col("_shs")).as("_sh"))
          .write.mode(SaveMode.Overwrite).parquet(tmp))
      writeStats(nRaw, nQuality, nExact, nNear, nFinal)
    }
  }

  private def writeStats(raw: Long, q: Long, e: Long, n: Long, f: Long): Unit = {
    val sp = spark
    import sp.implicits._
    DirSwap.swapInto(fs, path, statsPath)(tmp =>
      Seq((raw, q, e, n, f))
        .toDF("n_raw", "n_quality", "n_exact", "n_near", "n_final")
        .write.mode(SaveMode.Overwrite).parquet(tmp))
  }

  /** Clean one sync batch incrementally against the stored state. The
    * result's `survivors` equals what the batch funnel would output on the
    * UNION corpus (stored ∪ batch) — hash-matched by the `d_delta_pipeline`
    * oracle and stage-by-stage by DeltaPipelineSpec.
    *
    * Contracts: batch ids are distinct from and GREATER than every stored
    * id (a sync batch is new documents — this is what makes first-wins
    * monotone); `fullCorpus` is the union source, read only through a
    * candidate-id semi-join (the near-dup verify re-shingles candidate
    * docs exactly like [[graft.ops.Dedup.jaccardOnPairs]] callers —
    * at 100 TB these are data-skipped point reads, not a corpus scan).
    *
    * Shuffle posture, table by table: `fps`, `holdsh`, `post4` and the
    * minhash band table are scanned with the BATCH side broadcast (the
    * [[MinhashIndexStore.deltaCandidates]] posture — a sync batch is
    * bounded by the ingest contract), so nothing state-scale ever enters
    * an exchange; the only shuffles are batch-internal (its fingerprint
    * groupBy, its candidate-pair distinct, the verify join). Every block
    * the result's frames read belongs to `seam`. */
  def applyBatch(seam: Seam, batch: DataFrame, fullCorpus: DataFrame,
                 isHoldout: Column): DeltaCleanResult = {
    require(exists, "applyBatch requires built state (rebuild first)")
    val inCols = batch.columns.map(col).toSeq

    // --- the REVOCATION leg, forked first (r17 VERDICT #1, guide §2.6):
    // batchHoldSh reads the raw batch and the revocation probe scans post4
    // under a broadcast of it — neither depends on the quality/exact/
    // near-dup chain below (the legs only meet again at `survivors`), and
    // neither touches a cached frame the main thread materializes, so the
    // two can run concurrently. The fork materializes both persisted
    // frames while the main thread drives the near-dup leg's eager chain
    // (index-probe checkpoint + routing counts); the consumer's terminal
    // action then reads them from cache instead of paying the post4 scan
    // on its own critical path. The pool is the seams' daemon executor —
    // a failure surfaces at the await barrier before `survivors` is built;
    // if the MAIN thread throws first, the forked count is a read-only
    // probe on a daemon thread and completes harmlessly.
    val batchHoldSh = seam.persist(batch.filter(isHoldout)
      .withColumn("_ws", Dedup.wordsArray(textCol))
      .select(explode(Dedup.wordShingles("_ws", cfg.shingleK)).as("_sh"))
      .distinct())
    // stored live survivors sharing a shingle with the batch's new
    // benchmark shingles lose their survivor status (benchSh only ever
    // grows, so contamination is monotone — probing live survivors with
    // the NEW shingles alone is exact)
    val revoked = seam.persist(storedPost4()
      .join(broadcast(batchHoldSh), Seq("_sh"), "left_semi")
      .select(idCol).distinct()
      .join(storedRevoked(), Seq(idCol), "left_anti"))
    // materializes batchHoldSh + revoked caches
    val revokedFut = scala.concurrent.Future(revoked.count())(Seam.pool)

    // --- stage 2: quality (per-row predicate, identical to the funnel) ---
    val quality = seam.persist(batch.filter(CleanCorpus.qualityPredicate(textCol, cfg)))

    // --- stage 3: exact dedup vs stored fingerprints + within-batch ---
    val bfp = quality.withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
    // flip the membership probe so the STATE table is scanned, never
    // shuffled: stored fps ⋉ broadcast(batch fps) → the (tiny) matched set,
    // then the batch anti-joins the broadcast matches
    val hitFps = storedFps()
      .join(broadcast(bfp.select("_fp").distinct()), Seq("_fp"), "left_semi")
    val notStored = bfp.join(broadcast(hitFps), Seq("_fp"), "left_anti")
    val canonB = notStored.groupBy("_fp").agg(min(col(idCol)).as(idCol))
    val newFps = canonB.select("_fp")
    val exactNew = seam.persist(notStored
      .join(canonB.select(idCol), Seq(idCol), "left_semi")
      .select(inCols: _*))

    // --- stage 4: near-dup drop vs stored survivors + within-batch ---
    // candidates touching the batch, from the stored band table (index
    // probe, batch bands broadcast) — exactly the union LSH pairs that
    // involve a batch doc
    val indexed = mh.rowCount() > 0L
    val cand =
      if (indexed)
        mh.deltaCandidates(seam, exactNew.select(col(idCol), col(textCol)), textCol)
      else Dedup.lshCandidatePairs(
        Dedup.lshBands(
          mh.signatures(exactNew.select(col(idCol), col(textCol)), textCol),
          idCol, "sig", cfg.bands, cfg.rowsPerBand), idCol)
    val candIds = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b").as(idCol))).distinct()
    val needed = Dedup.routedSemiJoin(seam,
      fullCorpus.select(col(idCol), col(textCol)), candIds, idCol)
    val verified = Dedup.jaccardOnPairs(seam, cand, shingled(needed), idCol, "_shs")
    // id_b is always the batch side of a cross pair (batch ids greater),
    // so first-wins can only drop batch docs here — stored survivors are
    // immune to the batch at this stage by construction
    val droppedB = verified.filter(col("jaccard") >= cfg.nearDupThreshold)
      .select(col("id_b").as(idCol)).distinct()
    // nearNew is the seam every downstream frame builds on (bexpl,
    // finalNew, survivors — and absorb's snapshots re-embed them all).
    // Eager localCheckpoint instead of persist: truncating the lineage
    // here collapses the per-Dataset Catalyst re-analysis + CacheManager
    // canonicalization of the embedded verify tree that every downstream
    // construction re-paid (r18 timeline: a 1.47 s ZERO-JOB driver gap
    // between applyBatch's last routing count and the consumer's first
    // job, all plan-size-driven) — the deltaCandidates checkpoint
    // discipline applied one stage later. Value-neutral: same rows, the
    // verify jobs just run here instead of under the consumer's action.
    // The checkpointed set is the batch's near-dup survivors —
    // batch-bounded by the sync contract, never state-scale.
    val nearNew = seam.checkpoint(exactNew.join(droppedB, Seq(idCol), "left_anti"))

    // --- stage 5: decontamination (the non-monotone stage; batchHoldSh —
    // the batch's new benchmark shingles — and the revocation probe were
    // forked before stage 2 and are materializing concurrently) ---
    val bexpl = seam.persist(shingled(nearNew.filter(!isHoldout))
      .select(col(idCol), explode(col("_shs")).as("_sh")))
    // batch docs contaminated by the STORED benchmark set (state scanned,
    // batch shingles broadcast — same flip as fps) or by the batch's own
    // new benchmark shingles: the two tiny shingle sets fuse into ONE
    // broadcast semi-join (each extra sequential job here is a fixed
    // ~0.2-0.4 s local scheduling floor on the benched path)
    val hitSh = storedHoldSh()
      .join(broadcast(bexpl.select("_sh").distinct()), Seq("_sh"), "left_semi")
    val contaminated = bexpl
      .join(broadcast(hitSh.union(batchHoldSh)), Seq("_sh"), "left_semi")
      .select(idCol).distinct()
    val finalNew = seam.persist(nearNew.filter(!isHoldout)
      .join(contaminated, Seq(idCol), "left_anti")
      .select(idCol))
    val finalPostings = bexpl.join(finalNew, Seq(idCol), "left_semi")

    // barrier: the forked revocation leg must be materialized (or have
    // failed — rethrown here) before its frames escape in the result
    scala.concurrent.Await.result(revokedFut,
      scala.concurrent.duration.Duration.Inf): Unit

    val survivors = this.survivors()
      .join(broadcast(revoked), Seq(idCol), "left_anti")
      .union(finalNew)

    DeltaCleanResult(
      batchSource = batch,
      quality = quality, exactNew = exactNew, nearNew = nearNew,
      finalNew = finalNew, revoked = revoked, survivors = survivors,
      newFps = newFps, finalPostings = finalPostings,
      batchHoldSh = batchHoldSh)
  }

  /** Absorb one [[applyBatch]] result into the stored state so the NEXT
    * batch cleans against the union — parquet appends plus one stats swap,
    * every write batch-sized (revocations land as tombstones in `revoked/`;
    * nothing state-scale is rewritten). Call inside the result's seam,
    * and treat the result as CONSUMED afterwards: its frames read
    * the pre-mutation state and re-evaluate wrongly once the state tables
    * have grown (absorb snapshots what it writes, callers get no such
    * protection) — read post-absorb truth from [[survivors]]/[[stageCounts]]. */
  def absorb(result: DeltaCleanResult): Unit = {
    val (raw0, q0, e0, n0, f0) = stageCounts()
    // absorb was ~20 driver-SEQUENTIAL small jobs (r17 attribution:
    // snapshots, counts, appends at the local ~0.2–0.4 s/job floor —
    // 4 absorbs put e_stream_pipeline at ~46 s at sf0.01). The protocol
    // has exactly three true barriers, so it now runs as three phases
    // (guide §2.6 / the BPE concurrent-checkpoint pattern): every job
    // inside a phase is independent and submitted concurrently, each
    // phase pays its MAX job, not the sum. Both waves run on the seams'
    // JVM-shared daemon executor (r17 VERDICT #7: a long-lived ingest
    // absorbing per batch must not churn a fresh pool per call).
    // --- phase 1: SNAPSHOT every frame that gets written (or re-read)
    // after the first state mutation: the delta frames' plans READ the
    // state tables they are about to update, and Spark's write path
    // recaches-by-path — the first append would re-evaluate the remaining
    // frames against the MUTATED state (observed: the fps append made
    // finalNew re-resolve to empty, so kept4 absorbed nothing). Eager
    // localCheckpoint pins each frame's pre-mutation value and severs the
    // path dependence; ALL snapshots (and the three batch-frame counts)
    // complete before phase 2 mutates anything, so the pre-mutation
    // barrier is intact. Counts the stats row needs from snapshotted
    // frames ride the checkpoint job as observed metrics (the
    // connectedComponents discipline) instead of re-count jobs.
    // A failed phase-1 job rethrows only after every sibling finished, with
    // the completed snapshots released (ADVICE r17).
    Seam.scoped { seam =>
      def snap(df: DataFrame, name: String)(s: Seam): (DataFrame, Long) = {
        val (cp, m) = s.checkpointObserved(df, s"absorb_$name", count(lit(1)).as("n"))
        (cp, m.getAs[Long]("n"))
      }
      def plain(df: DataFrame)(s: Seam): (DataFrame, Long) = (s.checkpoint(df), 0L)
      def counted(df: DataFrame)(s: Seam): (DataFrame, Long) = (df, df.count())
      val Seq((exactSnap, eN), (fpsSnap, _), (k4Snap, fN), (revSnap, rN),
          (holdSnap, _), (postSnap, _), (_, rawN), (_, qN), (_, nN)) = seam.wave(Seq(
        snap(result.exactNew.select(col(idCol), col(textCol)), "exact") _,
        plain(result.newFps) _,
        snap(result.finalNew, "k4") _,
        snap(result.revoked, "rev") _,
        plain(result.batchHoldSh) _,
        plain(result.finalPostings) _,
        counted(result.batchSource) _,
        counted(result.quality) _,
        counted(result.nearNew) _))
      // --- phase 2: the state appends — each targets its own directory
      // and reads only snapshotted frames (holdsh additionally reads its
      // own pre-append state, which nothing else touches), so all six are
      // independent and run concurrently
      seam.wave(Seq[Seam => Unit](
        _ => mh.appendBatch(exactSnap, textCol),
        _ => fpsSnap.write.mode(SaveMode.Append).parquet(fpsPath),
        _ => k4Snap.write.mode(SaveMode.Append).parquet(kept4Path),
        _ => if (rN > 0L) revSnap.write.mode(SaveMode.Append).parquet(revokedPath),
        _ => {
          // keep holdsh a SET: append only the genuinely new shingles
          // (overlap computed with the same scan+broadcast flip as the
          // probes)
          val overlap = storedHoldSh()
            .join(broadcast(holdSnap), Seq("_sh"), "left_semi")
          holdSnap.join(broadcast(overlap), Seq("_sh"), "left_anti")
            .write.mode(SaveMode.Append).parquet(holdshPath)
        },
        _ => postSnap.write.mode(SaveMode.Append).parquet(post4Path)))
      // --- phase 3: stats LAST (the exists/staleness discipline — a
      // reader must never observe new stats over half-appended state)
      writeStats(raw0 + rawN, q0 + qN, e0 + eN, n0 + nN, f0 - rN + fN)
      // the session's shared file-status cache may still hold PRE-append
      // listings for these paths (all were read during applyBatch); a
      // post-absorb reader would silently miss the appended files
      spark.catalog.refreshByPath(path)
    }
  }
}

