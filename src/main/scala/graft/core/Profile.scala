package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** The one measurement listener: what the Spark jobs of a timed window did.
  * Every main (Bench, the stress harnesses) and every job-counting spec
  * measures through [[Profile.window]], which yields one [[Profile.Record]]
  * in one JSON schema. Nothing registers it by default, so neither the
  * Engine nor [[GraftSession.local]] pays for it.
  *
  * Window boundaries are two sentinel jobs tagged with the window's token.
  * Listener delivery is asynchronous but ordered, so every event between
  * the opening sentinel's start and the closing sentinel's start belongs to
  * the window, and once the closing sentinel's start has been delivered,
  * every earlier event has been too: no sleep-and-hope drain. Jobs that
  * other threads run concurrently with the body are counted too. */
final class Profile private (token: String) extends SparkListener {
  import Profile._

  private val sentinels = new CountDownLatch(2)
  private val sentinelStages = ConcurrentHashMap.newKeySet[Integer]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  // running totals, readable mid-window (TokStress reads them per round)
  @volatile var shuffleWrite = 0L
  @volatile var totalSpill = 0L

  private def open: Boolean = sentinels.getCount == 1

  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (j.properties != null && token == j.properties.getProperty(SentinelKey)) {
      j.stageIds.foreach(id => sentinelStages.add(id))
      sentinels.countDown()
    } else if (open) {
      def prop(k: String) = Option(j.properties).flatMap(p => Option(p.getProperty(k)))
      // else the result stage (the job's last-created) is named by the
      // action's call site, e.g. "count at Dedup.scala:633"; an adaptive
      // query's stage jobs share its SQL execution id
      val label = prop("spark.job.description").getOrElse(
        j.stageInfos.sortBy(_.stageId).lastOption.map(_.name.linesIterator.next())
          .getOrElse("?") + prop("spark.sql.execution.id").fold("")(id => s" [sql $id]"))
      jobs.put(j.jobId, Job(j.jobId, label.take(100), j.time, -1L)): Unit
    }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val started = jobs.get(j.jobId)
    if (started != null) jobs.put(j.jobId, started.copy(endMs = j.time)): Unit
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null && open && !sentinelStages.contains(t.stageId)) synchronized {
      val task = Task(t.stageId, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleWrite += task.shuffleWrite
      totalSpill += task.spill
      tasks.add(task): Unit
    }
  }

  private def sentinel(sc: SparkContext): Unit = {
    val prev = sc.getLocalProperty(SentinelKey)
    sc.setLocalProperty(SentinelKey, token)
    try sc.parallelize(1 to 2, 1).count(): Unit
    finally sc.setLocalProperty(SentinelKey, prev)
  }
}

object Profile {
  private val SentinelKey = "graft.profile.window"

  /** one job of a window: epoch-ms start and end (-1 while running) */
  final case class Job(id: Int, label: String, startMs: Long, endMs: Long)

  /** one finished task: executor run time, shuffle bytes written, and
    * memory + disk spill */
  final case class Task(stageId: Int, runMs: Long, shuffleWrite: Long, spill: Long)

  /** One window's profile. `driverGapMs` is the wall not covered by any
    * job interval: planning, driver-side loops and collects' tails. */
  final case class Record(wallSec: Double, startMs: Long, jobs: Seq[Job],
                          tasks: Seq[Task], cores: Int, driverGapMs: Long,
                          stealPct: Double, iowaitPct: Double) {
    /** task run times (ms), ascending */
    lazy val taskMs: IndexedSeq[Long] = tasks.map(_.runMs).sorted.toIndexedSeq
    /** nearest-rank percentile of the task run times (ms) */
    def taskMsPct(p: Double): Long =
      if (taskMs.isEmpty) 0L else taskMs(math.min(taskMs.size - 1, (p * taskMs.size).toInt))
    def sumTaskSec: Double = taskMs.sum / 1e3
    def parallelEfficiency: Double =
      if (wallSec <= 0) 0.0 else sumTaskSec / (wallSec * cores)
    def shuffleWrite: Long = tasks.map(_.shuffleWrite).sum
    def totalSpill: Long = tasks.map(_.spill).sum
    def maxTaskSpill: Long = tasks.map(_.spill).maxOption.getOrElse(0L)
    /** stages that ran tasks in the window */
    def stages: Int = tasks.map(_.stageId).distinct.size
    /** stages whose tasks wrote shuffle data */
    def shuffleStages: Int = tasks.filter(_.shuffleWrite > 0).map(_.stageId).distinct.size

    /** the record's JSON fields, without braces, for splicing into a
      * caller's own line */
    def fields: String =
      s""""wall_sec":${fmt(wallSec)},"jobs":${jobs.size},"stages":$stages,""" +
        s""""tasks":${tasks.size},""" +
        s""""task_ms_p50":${taskMsPct(0.5)},"task_ms_p95":${taskMsPct(0.95)},""" +
        s""""task_ms_max":${taskMs.lastOption.getOrElse(0L)},""" +
        s""""sum_task_sec":${fmt(sumTaskSec)},""" +
        s""""parallel_efficiency":${fmt(parallelEfficiency)},""" +
        s""""shuffle_write":$shuffleWrite,"total_spill":$totalSpill,""" +
        s""""max_task_spill":$maxTaskSpill,"driver_gap_ms":$driverGapMs,""" +
        s""""steal_pct":${fmt(stealPct)},"iowait_pct":${fmt(iowaitPct)}"""

    def json: String = s"{$fields}"

    /** one line per job, by start: window-relative start, duration, label */
    def jobLines: Seq[String] = jobs.sortBy(_.startMs).map { j =>
      val dur = if (j.endMs < 0) -1L else j.endMs - j.startMs
      String.format(java.util.Locale.ROOT, "job=%4d t0=%6d ms dur=%6d ms  %s",
        Int.box(j.id), Long.box(j.startMs - startMs), Long.box(dur), j.label)
    }
  }

  // Locale.ROOT: the default-locale formatter prints "0,5" on
  // comma-decimal locales — invalid JSON
  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** Run `body` inside a profiled window: its result and its record. */
  def window[A](sc: SparkContext)(body: => A): (A, Record) = observe(sc)(_ => body)

  /** [[window]] for a body that reads the running totals mid-window. */
  def observe[A](sc: SparkContext)(body: Profile => A): (A, Record) = {
    val p = new Profile(java.util.UUID.randomUUID().toString)
    sc.addSparkListener(p)
    try {
      p.sentinel(sc)
      val s0 = StealSampler.snapshotIo()
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = body(p)
      val wallNs = System.nanoTime() - t0
      val w1 = System.currentTimeMillis()
      val (steal, iowait) = StealSampler.pctIo(s0, StealSampler.snapshotIo())
      p.sentinel(sc)
      if (!p.sentinels.await(30, TimeUnit.SECONDS))
        System.err.println("[profile] listener bus did not drain in 30 s; record is partial")
      val jobs = p.jobs.values.asScala.toSeq.sortBy(_.id)
      // union of the job intervals, clipped to the window
      val covered = jobs
        .map(j => (math.max(j.startMs, w0), math.min(if (j.endMs < 0) w1 else j.endMs, w1)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
          if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
        }._1
      val wallMs = wallNs / 1000000L
      (out, Record(wallNs / 1e9, w0, jobs, p.tasks.asScala.toVector,
        sc.defaultParallelism, math.max(0L, wallMs - covered), steal, iowait))
    } finally sc.removeSparkListener(p)
  }
}
