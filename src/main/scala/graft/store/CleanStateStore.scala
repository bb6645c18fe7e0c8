package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  * Each version names five tables, pins a version of its nested index,
  * and carries the per-stage totals; a rebuild or an absorbed batch is one
  * [[StoreLog]] commit, so a failure anywhere before it leaves the
  * previous state whole:
  *  - `fps` — distinct normalized fingerprints of exact-dedup survivors
  *    (the canonical-per-group set; probing it answers "is this batch
  *    doc an exact dup of anything stored").
  *  - `mh/` — a nested [[MinhashIndexStore]] over the exact-dedup survivors
  *    (the near-dup candidate state; batch probes via `deltaCandidates`).
  *    Its own log commits first; the outer manifest records that version
  *    (`mh_version`) and every read pins it, so an index commit the outer
  *    store never published is invisible and the next absorb builds over
  *    the pinned version.
  *  - `kept4` — final-survivor ids, append-only.
  *  - `revoked` — tombstoned kept4 ids (decontamination revocations),
  *    append-only; the live survivor set is `kept4 − revoked`.
  *  - `holdsh` — distinct holdout (benchmark) shingles seen so far.
  *  - `post4` — (id, shingle) postings of live final survivors: the
  *    revocation probe target. At 100 TB this table is written bucketed
  *    by shingle hash so a probe is partition-pruned point reads; here it
  *    is scanned once per batch under a broadcast (no shuffle either way).
  *  - stats `n_raw`/`n_quality`/`n_exact`/`n_near`/`n_final` — per-stage
  *    totals; they answer staleness probes and the funnel counts without
  *    a data scan.
  */
final class CleanStateStore(
    spark: SparkSession, path: String,
    cfg: CleanCorpusConfig = CleanCorpusConfig(),
    idCol: String = "doc_id", textCol: String = "text") {

  private val log = new StoreLog(spark, path)
  private val MhVersion = "mh_version"
  private val Counts = Seq("n_raw", "n_quality", "n_exact", "n_near", "n_final")

  private val mh = new MinhashIndexStore(spark, path + "/mh",
    cfg.nHashes, cfg.bands, cfg.rowsPerBand, cfg.shingleK, idCol)

  def exists: Boolean = !log.latest().isEmpty

  def drop(): Unit = log.drop()

  /** per-stage totals (n_raw, n_quality, n_exact, n_near, n_final) — the
    * union funnel counts, maintained incrementally; n_raw is the staleness
    * probe callers compare against their source count. Read from the
    * latest manifest: no Spark job. */
  def stageCounts(): (Long, Long, Long, Long, Long) = {
    val m = log.latest()
    val Seq(r, q, e, n, f) = Counts.map(m.stat)
    (r, q, e, n, f)
  }

  def rawCount(): Long = log.latest().stat("n_raw")

  /** live final-survivor ids: kept4 minus revocation tombstones */
  def survivors(): DataFrame = survivors(log.latest())

  private def survivors(m: Manifest): DataFrame =
    log.table(m, "kept4").join(storedRevoked(m), Seq(idCol), "left_anti")

  // ids are long by the store contract (the engine's doc keys); an empty
  // tombstone list is the common case until the first benchmark update
  private def storedRevoked(m: Manifest): DataFrame =
    if (m.dirs("revoked").nonEmpty) log.table(m, "revoked")
    else {
      val sp = spark
      import sp.implicits._
      Seq.empty[Long].toDF(idCol)
    }

  /** the nested index as `m` pinned it */
  private def mhAt(m: Manifest): Manifest = mh.log.at(m.stats.getOrElse(MhVersion, -1L))

  /** publish `next` over `base`, then vacuum the nested index down to the
    * oldest version a kept outer version pins */
  private def publish(base: Manifest, next: Manifest): Unit = {
    log.publish(base, next)
    val pinned = log.versions().map(log.manifest).flatMap(_.stats.get(MhVersion))
    mh.log.latestVersion().foreach(latest => if (pinned.nonEmpty)
      mh.log.vacuum(keepVersions = math.max(2, (latest - pinned.min + 1).toInt)))
  }

  private def shingled(df: DataFrame): DataFrame = df
    .withColumn("_ws", Dedup.wordsArray(textCol))
    .withColumn("_shs", Dedup.wordShingles("_ws", cfg.shingleK))

  /** full (re)build: run the BATCH funnel on the stored corpus and persist
    * every state table from its stage frames — the state is definitionally
    * what the batch funnel computed. Empty corpus still writes (empty)
    * state so a first absorb can bootstrap. */
  def rebuild(stored: DataFrame, isHoldout: Column): Unit = {
    val base = log.latest()
    Seam.scoped { seam =>
      val st = CleanCorpus.cleanCorpus(seam, stored, idCol, textCol, Some(isHoldout), cfg)
      val kept4Ids = seam.persist(st.decontaminated.select(col(idCol)))
      val counts = Counts.zip(Seq(st.corpus, st.quality, st.exactDeduped,
        st.nearDeduped, kept4Ids).map(_.count())).toMap
      val fps = log.write("fps", st.exactDeduped.select(
        TextAnalysis.fingerprint(col(textCol)).as("_fp")).distinct())
      val mhm = mh.commitRebuild(st.exactDeduped.select(col(idCol), col(textCol)), textCol)
      val kept4 = log.write("kept4", kept4Ids)
      val holdsh = log.write("holdsh", stored.filter(isHoldout)
        .withColumn("_ws", Dedup.wordsArray(textCol))
        .select(explode(Dedup.wordShingles("_ws", cfg.shingleK)).as("_sh"))
        .distinct())
      // postings re-derive the kept2-era shingles from source text (the
      // derivation is deterministic, so this equals the funnel's _shs)
      val post4 = log.write("post4", shingled(st.decontaminated)
        .select(col(idCol), explode(col("_shs")).as("_sh")))
      publish(base, Manifest(
        tables = Map("fps" -> Seq(fps), "kept4" -> Seq(kept4),
          "holdsh" -> Seq(holdsh), "post4" -> Seq(post4)),
        stats = counts + (MhVersion -> mhm.version)))
    }
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
    val m = log.latest()
    require(!m.isEmpty, "applyBatch requires built state (rebuild first)")
    val mhm = mhAt(m)
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
    val revoked = seam.persist(log.table(m, "post4")
      .join(broadcast(batchHoldSh), Seq("_sh"), "left_semi")
      .select(idCol).distinct()
      .join(storedRevoked(m), Seq(idCol), "left_anti"))
    // materializes batchHoldSh + revoked caches
    val revokedFut = scala.concurrent.Future(revoked.count())(Seam.pool)

    // --- stage 2: quality (per-row predicate, identical to the funnel) ---
    val quality = seam.persist(batch.filter(CleanCorpus.qualityPredicate(textCol, cfg)))

    // --- stage 3: exact dedup vs stored fingerprints + within-batch ---
    val bfp = quality.withColumn("_fp", TextAnalysis.fingerprint(col(textCol)))
    // flip the membership probe so the STATE table is scanned, never
    // shuffled: stored fps ⋉ broadcast(batch fps) → the (tiny) matched set,
    // then the batch anti-joins the broadcast matches
    val hitFps = log.table(m, "fps")
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
    val indexed = mhm.stat("n_rows") > 0L
    val cand =
      if (indexed)
        mh.deltaCandidates(seam, exactNew.select(col(idCol), col(textCol)), textCol, mhm)
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
    val hitSh = log.table(m, "holdsh")
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

    val survivors = this.survivors(m)
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
    * batch cleans against the union — one new directory per table plus the
    * nested index's append, every write batch-sized (revocations land as
    * tombstones in `revoked`; nothing state-scale is rewritten), published
    * by one commit. Call inside the result's seam, and treat the result as
    * CONSUMED afterwards: read post-absorb truth from
    * [[survivors]]/[[stageCounts]]. */
  def absorb(result: DeltaCleanResult): Unit = {
    val base = log.latest()
    val Seq(raw0, q0, e0, n0, f0) = Counts.map(base.stat)
    // absorb was ~20 driver-SEQUENTIAL small jobs (r17 attribution:
    // snapshots, counts, appends at the local ~0.2–0.4 s/job floor —
    // 4 absorbs put e_stream_pipeline at ~46 s at sf0.01). It runs as
    // three phases (guide §2.6 / the BPE concurrent-checkpoint pattern):
    // every job inside a phase is independent and submitted concurrently,
    // each phase pays its MAX job, not the sum. Both waves run on the
    // seams' JVM-shared daemon executor (r17 VERDICT #7: a long-lived
    // ingest absorbing per batch must not churn a fresh pool per call).
    // --- phase 1: SNAPSHOT every frame that gets written, so each write
    // reads its rows once instead of re-running the batch's joins, and the
    // counts the stats need ride the checkpoint jobs as observed metrics
    // (the connectedComponents discipline) instead of re-count jobs. A
    // failed phase-1 job rethrows only after every sibling finished, with
    // the completed snapshots released (ADVICE r17) and nothing written.
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
      // --- phase 2: one new directory per table and the nested index's
      // commit over the version this state pins — independent writes,
      // run concurrently; each returns its part of the next manifest
      def table(name: String)(dirs: => Seq[String]): Seam => Manifest =
        _ => Manifest(tables = Map(name -> dirs))
      val parts = seam.wave(Seq[Seam => Manifest](
        _ => Manifest(stats = Map(MhVersion ->
          mh.commitAppend(mhAt(base), exactSnap, textCol)._2.version)),
        table("fps")(log.append(base, "fps", fpsSnap)),
        table("kept4")(log.append(base, "kept4", k4Snap)),
        table("revoked")(
          if (rN > 0L) log.append(base, "revoked", revSnap) else base.dirs("revoked")),
        // keep holdsh a SET: append only the genuinely new shingles
        // (overlap computed with the same scan+broadcast flip as the probes)
        table("holdsh")(log.append(base, "holdsh", holdSnap.join(broadcast(
          log.table(base, "holdsh").join(broadcast(holdSnap), Seq("_sh"), "left_semi")),
          Seq("_sh"), "left_anti"))),
        table("post4")(log.append(base, "post4", postSnap))))
      // --- phase 3: publish every table, the pinned index version and the
      // new totals at once
      val counts = Counts.zip(Seq(raw0 + rawN, q0 + qN, e0 + eN, n0 + nN, f0 - rN + fN))
      publish(base, Manifest(
        tables = parts.flatMap(_.tables).filter(_._2.nonEmpty).toMap,
        stats = parts.flatMap(_.stats).toMap ++ counts))
    }
  }
}

