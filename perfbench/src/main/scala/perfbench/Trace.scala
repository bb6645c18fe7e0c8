package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call of the closed-loop client: wall time from invocation to
  * the collected result, plus the summary the output checks read. */
final case class Call(id: String, kind: String, variant: String, phase: String,
                      startMs: Double, ms: Double, traced: Boolean,
                      out: ObjectNode, error: Option[String])

/** A span the benchmark records around a call into one layer. Spark jobs
  * run under the span's job group and hang below it as children. */
final case class Span(id: String, name: String, layer: String,
                      startMs: Double, endMs: Double)

/** Times calls and, in a traced run, keeps spans in memory. Epoch
  * milliseconds come from one monotonic clock anchored at start, so spans
  * and Spark listener times line up. */
final class Recorder(sc: SparkContext, val tracing: Boolean) {
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis().toDouble
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val calls = ArrayBuffer.empty[Call]
  val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger()
  /** "warm" while warming to steady state, "timed" in the measured region */
  var phase: String = "warm"
  var firstCallMs: Double = -1

  /** run `body` as one span of `layer`; its Spark jobs become children */
  def span[T](name: String, layer: String)(body: => T): T = {
    val id = s"s${ids.incrementAndGet()}"
    sc.setJobGroup(id, name)
    val t0 = nowMs
    try body
    finally {
      spans += Span(id, name, layer, t0, nowMs)
      sc.clearJobGroup()
    }
  }

  /** one timed call; `summary` turns the collected result into the JSON
    * the output checks read, outside the timed region. `variant` names
    * the call's shape within its kind (e.g. which filter a query uses). */
  def call[T](kind: String, layer: String = "api", variant: String = "")(
      body: => T)(summary: (T, ObjectNode) => Unit): Unit = {
    val id = s"c${ids.incrementAndGet()}"
    val timed = phase == "timed"
    // in a traced run every timed call is a root span
    val traced = tracing && timed
    if (traced) sc.setJobGroup(id, kind)
    val t0 = nowMs
    if (firstCallMs < 0 && timed) firstCallMs = t0
    val res = try Right(body) catch {
      case scala.util.control.NonFatal(e) => Left(e)
    }
    val t1 = nowMs
    if (traced) {
      sc.clearJobGroup()
      spans += Span(id, kind, layer, t0, t1)
    }
    val out = Json.obj()
    val err = res match {
      case Right(v) =>
        try { summary(v, out); None }
        catch { case scala.util.control.NonFatal(e) => Some(s"summary: $e") }
      case Left(e) => Some(e.toString)
    }
    calls += Call(id, kind, variant, phase, t0, t1 - t0, traced, out, err)
  }

  def callsJson: ArrayNode = {
    val a = Json.arr()
    calls.foreach { c =>
      val o = a.addObject()
      o.put("id", c.id).put("kind", c.kind).put("variant", c.variant)
        .put("phase", c.phase)
        .put("start_ms", c.startMs)
        .put("ms", c.ms).put("traced", c.traced)
      o.set[ObjectNode]("out", c.out)
      c.error.foreach(o.put("error", _))
    }
    a
  }

  def spansJson(jobs: JobListener): ArrayNode = {
    val a = Json.arr()
    spans.foreach { s =>
      a.addObject().put("id", s.id).put("name", s.name)
        .put("layer", s.layer).put("start_ms", s.startMs).put("end_ms", s.endMs)
    }
    jobs.jobs.foreach { j =>
      a.addObject().put("id", s"job${j.jobId}").put("parent", j.group)
        .put("name", s"job ${j.jobId}").put("layer", "spark")
        .put("start_ms", j.startMs.toDouble).put("end_ms", j.endMs.toDouble)
        .put("task_ms", j.taskMs.get).put("records_read", j.recordsRead.get)
        .put("shuffle_bytes", j.shuffleBytes.get)
        .put("spill_bytes", j.spillBytes.get)
    }
    a
  }
}

/** Attributes Spark jobs to the benchmark span or call whose job group they
  * ran under, and Catalyst phase time to the query executions that
  * finished. Registered only in traced runs, for the whole run: the jobs of
  * untraced calls carry no job group, so for them it only drops the events. */
final class JobListener extends SparkListener with QueryExecutionListener {
  final class Job(val jobId: Int, val group: String, val startMs: Long) {
    @volatile var endMs: Long = startMs
    val taskMs = new AtomicLong()
    val recordsRead = new AtomicLong()
    val shuffleBytes = new AtomicLong()
    val spillBytes = new AtomicLong()
  }
  private val byJob = new ConcurrentHashMap[Int, Job]()
  private val stageToJob = new ConcurrentHashMap[Int, Job]()
  /** (start epoch ms, analysis + optimization + planning ms) */
  val catalyst = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  def jobs: Seq[Job] = byJob.values.asScala.toSeq.sortBy(_.jobId)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEventMs = System.currentTimeMillis()
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      val j = new Job(e.jobId, g, e.time)
      byJob.put(e.jobId, j)
      e.stageIds.foreach(stageToJob.put(_, j))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    Option(byJob.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventMs = System.currentTimeMillis()
    for (j <- Option(stageToJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
      j.taskMs.addAndGet(m.executorRunTime)
      j.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      j.shuffleBytes.addAndGet(
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private def phases(qe: QueryExecution): Unit = {
    lastEventMs = System.currentTimeMillis()
    val ps = qe.tracker.phases.values
    if (ps.nonEmpty)
      catalyst.add((ps.map(_.startTimeMs).min.toDouble,
        ps.map(_.durationMs).sum.toDouble))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  /** the listener bus is asynchronous: wait until it has been quiet */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (System.currentTimeMillis() - lastEventMs < 500 &&
           System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  def catalystJson: ArrayNode = {
    val a = Json.arr()
    catalyst.asScala.foreach { case (s, ms) => a.addArray().add(s).add(ms) }
    a
  }
}
