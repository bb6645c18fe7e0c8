package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Profile}

/** The one measurement listener: a window counts exactly its own jobs and
  * tasks, labels them, and splits its wall into job time and driver gap. */
class ProfileSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("a window sees only its own jobs, labelled by description or call site") {
    val sc = spark.sparkContext
    sc.parallelize(1 to 100, 3).count() // before the window
    val (sum, rec) = Profile.window(sc) {
      sc.setJobDescription("profile spec: described")
      val n = try sc.parallelize(1 to 100, 5).count()
              finally sc.setJobDescription(null)
      n + sc.parallelize(1 to 10, 2).map(_ * 2).reduce(_ + _)
    }
    sc.parallelize(1 to 100, 3).count() // after the window
    assert(sum === 100L + 110L)
    assert(rec.jobs.size === 2, rec.jobLines.mkString("\n"))
    assert(rec.jobs.head.label === "profile spec: described")
    assert(rec.jobs(1).label.startsWith("reduce at ProfileSpec.scala"), rec.jobs(1).label)
    assert(rec.jobs.forall(j => j.endMs >= j.startMs))
    assert(rec.jobLines.size === 2)
    // a window with no Spark work records none, however fast it runs
    val (_, empty) = Profile.window(sc)(())
    assert(empty.jobs.isEmpty && empty.tasks.isEmpty)
  }

  test("the task count equals the stage's partitions; shuffle writers are counted") {
    val sc = spark.sparkContext
    val (_, rec) = Profile.window(sc)(sc.parallelize(1 to 1000, 7).count())
    assert(rec.jobs.size === 1)
    assert(rec.tasks.size === 7 && rec.stages === 1 && rec.shuffleStages === 0)
    assert(rec.taskMs.size === 7 && rec.taskMsPct(1.0) === rec.taskMs.last)

    val (_, shuffled) = Profile.window(sc) {
      sc.parallelize(1 to 1000, 6).map(i => (i % 10, 1)).reduceByKey(_ + _, 3).count()
    }
    assert(shuffled.tasks.size === 6 + 3 && shuffled.stages === 2)
    assert(shuffled.shuffleStages === 1 && shuffled.shuffleWrite > 0)
  }

  test("driver_gap_ms is the wall no job covers, never above the wall") {
    val sc = spark.sparkContext
    val (_, rec) = Profile.window(sc) {
      sc.parallelize(1 to 10, 2).count()
      Thread.sleep(300) // driver-only time between two jobs
      sc.parallelize(1 to 10, 2).count()
    }
    val wallMs = rec.wallSec * 1000
    assert(rec.driverGapMs <= wallMs)
    assert(rec.driverGapMs >= 250, s"gap ${rec.driverGapMs} ms of $wallMs ms")
    val json = rec.json
    Seq("wall_sec", "jobs", "tasks", "task_ms_p50", "task_ms_p95", "task_ms_max",
      "sum_task_sec", "parallel_efficiency", "shuffle_write", "total_spill",
      "max_task_spill", "driver_gap_ms", "steal_pct", "iowait_pct")
      .foreach(k => assert(json.contains("\"" + k + "\":"), k))
    assert(json.contains("\"jobs\":2,"))
  }

  test("a throwing body propagates, and the next window is exact") {
    val sc = spark.sparkContext
    intercept[IllegalStateException] {
      Profile.window(sc)(throw new IllegalStateException("boom"))
    }
    val (_, rec) = Profile.window(sc)(sc.parallelize(1 to 4, 2).count())
    assert(rec.jobs.size === 1 && rec.tasks.size === 2)
  }
}
