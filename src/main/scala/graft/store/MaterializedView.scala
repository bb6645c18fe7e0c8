package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Result of one [[MaterializedView.refresh]]: the refreshed view plus what
  * the refresh actually did — `mode` is "full" (first build), "incremental"
  * (partial recompute of changed groups), or "noop" (already current);
  * `recomputedGroups` counts the group keys recomputed (-1 for full). */
final case class MvRefresh(df: DataFrame, mode: String,
                           recomputedGroups: Long, storeVersion: Long)

/** Incrementally maintained grouped aggregate over a [[VersionedStore]] —
  * the materialized-view pattern every warehouse keeps per-source rollups
  * with, driven here by the store's snapshot-derived change feed.
  *
  * Maintenance is PARTIAL RECOMPUTE, not +/- delta arithmetic: a refresh
  * asks the change feed which GROUP KEYS were touched between the last
  * refreshed snapshot and the current one, recomputes exactly those groups
  * from the current snapshot (via [[VersionedStore.readFiles]], which
  * prunes to the groups' data files through manifest stats), and carries
  * every untouched group's row forward as-is. Compared to incremental
  * +/- maintenance this
  *  - supports NON-DISTRIBUTIVE aggregates (min/max/count-distinct) that
  *    cannot be maintained by subtraction,
  *  - needs no update pre-images from the feed, and
  *  - costs O(churned groups' data + |view|) per refresh — at 100 TB the
  *    refresh follows the batch, not the table, the same cost shape as the
  *    incremental dedup path.
  *
  * The group key must be STABLE under update (here: chunk identity embeds
  * `filePath`, so a chunk can never change groups in place — a move is a
  * delete in one group plus an insert in the other, and the feed surfaces
  * both keys). Each refresh writes an immutable `v%08d` view snapshot next
  * to the store, so view readers get the same no-lock isolation as table
  * readers; [[prune]] drops old view snapshots.
  *
  * Reference scope note: the reference keeps no derived rollups (its
  * list/stats endpoints recount on demand, `src/server/index.ts`); this is
  * corpus-scale infrastructure added on top, in the same family as the
  * incremental dedup index.
  */
final class MaterializedView(spark: SparkSession, store: VersionedStore,
                             mvRoot: String, groupCols: Seq[String],
                             aggs: Seq[Column]) {
  require(groupCols.nonEmpty, "materialized view needs at least one group column")
  require(aggs.nonEmpty, "materialized view needs at least one aggregate")

  /** single-group-column convenience */
  def this(spark: SparkSession, store: VersionedStore, mvRoot: String,
           groupCol: String, aggs: Seq[Column]) =
    this(spark, store, mvRoot, Seq(groupCol), aggs)

  private def fs: FileSystem =
    new HPath(mvRoot).getFileSystem(spark.sessionState.newHadoopConf())

  private def dirFor(v: Long) = f"$mvRoot/v$v%08d"

  /** Store versions this view has been refreshed at, ascending. Only
    * COMPLETE snapshots count: a refresh interrupted mid-write leaves a
    * directory without the `_SUCCESS` marker, and treating it as current
    * would serve a torn view forever — such dirs are ignored (and simply
    * rewritten by the next refresh of that version). */
  def refreshedVersions(): Seq[Long] = {
    val p = new HPath(mvRoot)
    val f = fs
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
          f.exists(new HPath(s"$mvRoot/$n/_SUCCESS")) =>
        n.drop(1).toLong }
      .sorted.toSeq
  }

  private def compute(src: DataFrame): DataFrame =
    src.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)

  private def write(df: DataFrame, v: Long): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(dirFor(v))

  /** the view as of its most recent refresh (must have refreshed once) */
  def read(): DataFrame = readAt(refreshedVersions().last)

  // the view is re-read per query; its schema is fixed by the group
  // columns and aggregates, so it is inferred once per version dir
  def readAt(v: Long): DataFrame = {
    val dir = dirFor(v)
    spark.read.schema(StoreLog.memo(s"schema@$dir")(spark.read.parquet(dir).schema))
      .parquet(dir)
  }

  /** Bring the view up to the store's latest snapshot. No-op when already
    * current; full compute on first refresh; otherwise recompute only the
    * groups the change feed names. */
  def refresh(): MvRefresh = {
    val latest = store.latestVersion().getOrElse(
      throw new IllegalStateException("store has no snapshots to refresh from"))
    val have = refreshedVersions()
    if (have.contains(latest))
      return MvRefresh(readAt(latest), "noop", 0L, latest)
    have.filter(_ < latest).lastOption match {
      case None =>
        write(compute(store.read()), latest)
        MvRefresh(readAt(latest), "full", -1L, latest)
      case Some(prev) =>
        // affected keys are multi-column tuples; membership tests run on a
        // single concatenated key expression (separator outside the path/
        // text alphabet) so both sides stay driver-broadcast collections.
        // Null group values get an explicit sentinel on BOTH sides:
        // concat_ws silently SKIPS null columns while the driver side must
        // render them, so without the sentinel a null-keyed group
        // (fileTitle is nullable and an advertised group column) would
        // never match isInCollection and be served stale forever.
        val keyExpr = concat_ws("\u0001", groupCols.map(c =>
          coalesce(col(c).cast("string"), lit(MaterializedView.NullKey))): _*)
        val changed = store.changes(prev, latest)
          .select(groupCols.map(c => col(c).cast("string").as(c)): _*)
          .distinct().collect()
        val keys = changed.map(r => groupCols.indices
            .map(i => Option(r.getString(i)).getOrElse(MaterializedView.NullKey))
            .mkString("\u0001"))
          .toSeq.sorted
        if (keys.isEmpty) {
          write(readAt(prev), latest)
          MvRefresh(readAt(latest), "incremental", 0L, latest)
        } else {
          // An affected group's rows are NOT confined to the batch's files
          // (a group can span the table), so the recompute source is the
          // whole current snapshot restricted to the affected keys. When
          // the LEADING group column is the store's stats dimension
          // (filePath), that restriction prunes to the groups' data files
          // through the manifest ([[VersionedStore.readFiles]]); for any
          // other grouping the restriction is a scan-time filter — at
          // production scale you'd lay the table out (bucket/z-order) on
          // the view's leading dim to get the same pruning.
          val leadKeys = changed.map(_.getString(0))
          val src =
            if (groupCols.head == "filePath" && !leadKeys.contains(null))
              store.readFiles(leadKeys.distinct.toSeq)
            else store.read()
          val recomputed = compute(src.filter(keyExpr.isInCollection(keys)))
          val carried = readAt(prev).filter(!keyExpr.isInCollection(keys))
          // fully deleted groups appear in `keys` but produce no recomputed
          // row — the union drops them from the view, as it must
          write(carried.unionByName(recomputed), latest)
          MvRefresh(readAt(latest), "incremental", keys.size.toLong, latest)
        }
    }
  }

  /** drop all but the newest `keep` view snapshots */
  def prune(keep: Int = 2): Unit = {
    val f = fs
    refreshedVersions().dropRight(math.max(keep, 1))
      .foreach(v => f.delete(new HPath(dirFor(v)), true))
  }
}

object MaterializedView {
  /** Sentinel rendering a null group value identically in the Catalyst key
    * expression and the driver-side key string; \u0000 cannot appear in a
    * cast-to-string column value, so no real key collides with it. */
  val NullKey = "\u0000<null>"
}
