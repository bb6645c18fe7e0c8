package graft.core

/** Driver-materialization probe for the engine's sync/ingest paths — the
  * [[graft.ops.TrainerProbe]] pattern applied to the flagship WRITE path
  * (r15 VERDICT ask #1: Engine's per-batch driver fetches must be
  * batch-bounded at runtime, not by code review).
  *
  * The sync planner's driver materializations are FILE-scale by design:
  * one action row per dirty file, never one per chunk and never one per
  * stored row. Each site reports its fetch here with a bound derived from
  * an INDEPENDENT cheap aggregate (the 4-row action-count groupBy, the
  * distributed-routing threshold, or the constant 1 for single-file
  * ingest), so a future edit that accidentally collects chunk-scale or
  * corpus-scale rows fails its first sync, not a 100 TB sync.
  *
  * The read tools report their collects the same way, bounded by the
  * result they serve: a query's candidate top-(2·limit) and its matched
  * BM25 postings, a neighbor read's chunk-index range.
  *
  * Same concurrency contract as TrainerProbe: [[maxRows]] is JVM-global
  * (fine for the bound story — each fetch asserts its own bound);
  * [[hook]] is for single-engine harnesses (IngestStress, specs) and is
  * exception-isolated so a stale harness hook can never abort a
  * production sync. */
object DriverProbe {
  @volatile var maxRows: Long = 0L
  /** (site, rows, bound) — fired AFTER the bound assertion */
  @volatile var hook: (String, Long, Long) => Unit = null

  def record(site: String, rows: Long, bound: Long): Unit = {
    require(rows <= bound,
      s"$site materialized $rows driver rows — above its bound $bound; " +
        "driver fetches must stay batch- or result-scale")
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
