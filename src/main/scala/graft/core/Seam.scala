package graft.core

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.RddBridge
import org.apache.spark.storage.StorageLevel

/** One owner for every block materialized through it: persisted frames
  * (CacheManager entries) and eager `localCheckpoint`s (blocks persisted on
  * the checkpointed RDD, which `clearCache()` and `df.unpersist` never see).
  * [[close]] frees them all, blocking, so "blocks gone" is synchronous.
  *
  * A pipeline takes its seam as a parameter and returns plain frames that
  * read the seam's blocks: the caller runs its terminal action inside the
  * seam's scope ([[Seam.scoped]]) and the scope's close releases every
  * intermediate on the success path and on the failure path alike.
  *
  * Every checkpoint here is local: its blocks live on one executor's
  * BlockManager. A reliable checkpoint (when a checkpoint dir is set) would
  * replace `localCheckpoint` here, and only here. */
final class Seam private (tracked: Boolean, site: Option[String] = None)
    extends AutoCloseable {
  private val owned = mutable.ArrayBuffer.empty[Seam.Block]
  private var closed = false

  private def own(b: Seam.Block): Unit = if (tracked) synchronized {
    require(!closed, "seam already closed")
    owned += b
  }

  def persist(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    own(Seam.Cached(p))
    p
  }

  /** Eager local checkpoint: the frame's rows are materialized now (one job)
    * and its lineage is cut to a leaf. The job keeps the calling operator's
    * file:line as its call site, which names its stages in job timelines.
    *
    * If the job fails, Spark has already persisted the RDD it created for
    * the checkpoint, and no handle on it escapes. Its creation site's long
    * form carries a token unique to this call, which finds it and frees it
    * (and only it: a concurrent checkpoint from the same operator carries
    * its own token). */
  def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val token = s"graft seam checkpoint ${Seam.calls.incrementAndGet()}"
    val cp = Seam.withCallSite(sc,
        "localCheckpoint at " + Seam.callerSite().orElse(site).getOrElse("Seam"), token) {
      try df.localCheckpoint(true) catch { case t: Throwable =>
        sc.getPersistentRDDs.values
          .filter(r => RddBridge.creationLongForm(r) == token)
          .foreach(r => Try(r.unpersist(blocking = true)).failed.foreach(t.addSuppressed))
        throw t
      }
    }
    Seam.checkpointRdd(cp).foreach(r => own(Seam.Checkpointed(r)))
    cp
  }

  /** [[checkpoint]] that also computes `metric` as an observed metric of the
    * same job — read synchronously off the executed plan's accumulators,
    * not off the asynchronous listener bus. A retried or speculative task
    * may count its rows twice, never zero times. */
  def checkpointObserved(df: DataFrame, name: String, metric: Column): (DataFrame, Row) = {
    val observed = df.observe(name, metric)
    val cp = checkpoint(observed)
    (cp, observed.queryExecution.observedMetrics(name))
  }

  /** [[checkpoint]] of every frame at once: the jobs run concurrently, so
    * the wave pays its slowest job, not the sum. */
  def checkpointAll(dfs: Seq[DataFrame]): Seq[DataFrame] =
    wave(dfs.map(df => (s: Seam) => s.checkpoint(df)))

  /** Runs independent materializations concurrently, each against its own
    * child seam. Waits for EVERY task before it looks at a failure: on one,
    * it releases the blocks of the tasks that completed and rethrows the
    * first failure; on success this seam owns them all. */
  def wave[T](tasks: Seq[Seam => T]): Seq[T] = {
    val caller = Seam.callerSite().orElse(site)
    val children = tasks.map(_ => new Seam(tracked = true, caller))
    val futures = tasks.zip(children).map { case (t, c) => Future(t(c))(Seam.pool) }
    val tried = futures.map(f => Try(Await.result(f, Duration.Inf)))
    tried.collectFirst { case Failure(t) => t }.foreach { t =>
      children.foreach(c => Seam.closeUnder(c, t))
      throw t
    }
    children.foreach(c => c.owned.foreach(own))
    tried.map(_.get)
  }

  /** Frees one superseded frame this seam owns early (a per-round loop's
    * previous state): the persisted frame itself, or the checkpoint it
    * reads. */
  def release(df: DataFrame, blocking: Boolean = true): Unit =
    synchronized {
      val i = owned.indexWhere(_.holds(df))
      if (i >= 0) Some(owned.remove(i)) else None
    }.foreach(_.free(blocking))

  /** Frees every owned block, blocking. Idempotent. Every block is freed
    * even when one fails to; the first failure is rethrown after the last
    * block, with the others suppressed on it. */
  def close(): Unit = {
    val all = synchronized {
      closed = true
      val a = owned.toList
      owned.clear()
      a
    }
    all.map(b => Try(b.free(blocking = true))).collect { case Failure(t) => t } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
  }
}

object Seam {
  private sealed trait Block {
    def holds(df: DataFrame): Boolean
    def free(blocking: Boolean): Unit
  }
  private final case class Cached(p: DataFrame) extends Block {
    def holds(df: DataFrame): Boolean = p eq df
    def free(blocking: Boolean): Unit = p.unpersist(blocking): Unit
  }
  private final case class Checkpointed(rdd: RDD[_]) extends Block {
    def holds(df: DataFrame): Boolean = checkpointRdd(df).exists(_.id == rdd.id)
    def free(blocking: Boolean): Unit = rdd.unpersist(blocking): Unit
  }

  private def checkpointRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }

  private val calls = new java.util.concurrent.atomic.AtomicLong

  /** Runs `body` with Spark's call-site local properties set on this thread:
    * the short form names the jobs' stages and the RDDs they create (Spark
    * would otherwise name this file); the long form is the RDDs' creation
    * site, which nothing else here reads. */
  private def withCallSite[T](sc: SparkContext, short: String, long: String)(body: => T): T = {
    val props = Seq("callSite.short" -> short, "callSite.long" -> long)
    val prev = props.map { case (k, _) => k -> sc.getLocalProperty(k) }
    props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    try body finally prev.foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Closes `s` after `cause` was thrown: a close failure is attached to the
    * cause, which stays the failure the caller sees. */
  private def closeUnder(s: Seam, cause: Throwable): Unit =
    Try(s.close()).failed.foreach(e => if (e ne cause) cause.addSuppressed(e))

  /** file:line of the nearest program frame outside the seam (an operator
    * or a caller); None on a wave's pool thread running a seam lambda. */
  private def callerSite(): Option[String] =
    Thread.currentThread.getStackTrace.iterator
      .find(f => f.getClassName.startsWith("graft.") &&
        !f.getClassName.startsWith("graft.core.Seam"))
      .map(f => s"${f.getFileName}:${f.getLineNumber}")

  /** Daemon threads, so JVM exit never waits on a wave; a wave's threads
    * block on Spark jobs, which a CPU-sized pool would serialize. */
  private[graft] lazy val pool: ExecutionContext = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "graft-seam")
      t.setDaemon(true)
      t
    })

  /** A seam its creator closes (a long-lived owner, e.g. one per Engine tool). */
  def apply(): Seam = new Seam(tracked = true)

  /** Runs `body` with a fresh seam and closes it on success and on failure. */
  def scoped[T](body: Seam => T): T = {
    val s = Seam()
    val r = try body(s) catch { case t: Throwable => closeUnder(s, t); throw t }
    s.close()
    r
  }

  /** Runs `body` with a fresh seam that is closed only if `body` throws: on
    * success the blocks behind the result pass to the session, like
    * [[session]]'s. For operators whose result is itself a checkpoint. */
  def closedOnFailure[T](body: Seam => T): T = {
    val s = Seam()
    try body(s) catch { case t: Throwable => closeUnder(s, t); throw t }
  }

  /** The seam of the registry's run-one-query builders. It tracks nothing
    * and nothing closes it: the harness's `GraftSession.releaseAllBlocks`
    * after each query frees its blocks with every other block. */
  val session: Seam = new Seam(tracked = false)
}
