package graft.core

/** Driver-materialization probe: every driver fetch whose size must be a
  * pure function of a batch, a result or a vocabulary — never of the
  * corpus — reports here, and [[record]] ASSERTS rows <= bound at runtime.
  * A future edit that turns a bounded `head()` into a corpus-bounded
  * `collect()` fails its first run, not a 100 TB run.
  *
  * Sites report with a bound derived independently of the fetch:
  *  - the sync planner's fetches are FILE-scale (one action row per dirty
  *    file), bounded by the 4-row action-count groupBy, the distributed
  *    routing threshold, or the constant 1 for single-file ingest;
  *  - the read tools' collects are bounded by the result they serve: a
  *    query's candidate top-(2·limit) and its matched BM25 postings, a
  *    neighbor read's chunk-index range;
  *  - the iterative tokenizer trainers (BPE / WordPiece / Unigram-LM) end
  *    each round in ONE fetch bounded by the vocab knobs (candidateFetch
  *    (batchK), |vocab|, seedSize, |alphabet|); their site label carries
  *    the round (`"bpe.argmax round 7"`). The corpus is touched once by the
  *    word-dict aggregation, and every round after that moves vocab-scale
  *    data only.
  *
  * [[maxRows]] is JVM-global: concurrent callers interleave into one max,
  * which is fine for the bound story (each fetch asserts its own bound).
  * [[hook]] is for single-engine, single-trainer harnesses (IngestStress,
  * TokStress, specs) and is exception-isolated, so a stale harness hook can
  * never abort a production sync or trainer. */
object DriverProbe {
  @volatile var maxRows: Long = 0L
  /** (site, rows, bound) — fired AFTER the bound assertion */
  @volatile var hook: (String, Long, Long) => Unit = null

  def record(site: String, rows: Long, bound: Long): Unit = {
    require(rows <= bound,
      s"$site materialized $rows driver rows — above its bound $bound; " +
        "driver fetches must stay batch-, result- or vocab-scale, never corpus-scale")
    synchronized { if (rows > maxRows) maxRows = rows }
    val h = hook
    if (h != null)
      try h(site, rows, bound)
      catch {
        case e: Exception =>
          System.err.println(s"[driver-probe] hook threw (ignored): $e")
      }
  }

  def reset(): Unit = synchronized { maxRows = 0L }
}
