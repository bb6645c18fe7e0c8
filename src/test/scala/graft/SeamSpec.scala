package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftSession, Seam}

/** The one owner of materialized blocks: what it frees, and when. */
class SeamSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def chain(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)

  test("a scope frees its persists and checkpoints on success and on failure") {
    val census = new BlockCensus(spark)
    val n = Seam.scoped { seam =>
      val p = seam.persist(spark.range(100).toDF("id"))
      val cp = seam.checkpoint(p.filter($"id" % 2 === 0))
      val (obs, m) = seam.checkpointObserved(cp, "seam_spec", count(lit(1)).as("n"))
      assert(m.getAs[Long]("n") === 50L)
      assert(census.left.size === 3)
      // an early release frees one frame and leaves the rest owned
      seam.release(cp)
      assert(census.left.size === 2)
      obs.count()
    }
    assert(n === 50L)
    assert(census.left.isEmpty, census.left.mkString(","))
    intercept[IllegalStateException](Seam.scoped { seam =>
      seam.checkpoint(spark.range(10).toDF("id"))
      throw new IllegalStateException("body failed")
    })
    assert(census.left.isEmpty, census.left.mkString(","))
    // close is idempotent
    val seam = Seam()
    seam.checkpoint(spark.range(10).toDF("id"))
    seam.close(); seam.close()
    assert(census.left.isEmpty, census.left.mkString(","))
  }

  test("a concurrent checkpoint with a failing frame releases its completed siblings and rethrows the first failure") {
    def boom(msg: String) = udf { (id: Long) =>
      if (id == 3L) throw new IllegalStateException(msg)
      id
    }
    val frames = Seq(
      spark.range(20).toDF("id"),
      spark.range(20).select(boom("first injected")($"id").as("id")),
      spark.range(30).toDF("id"),
      spark.range(20).select(boom("second injected")($"id").as("id")),
      spark.range(40).toDF("id"))
    val census = new BlockCensus(spark)
    val seam = Seam()
    val err = intercept[Exception](seam.checkpointAll(frames))
    val messages = chain(err).map(t => String.valueOf(t.getMessage)).toSeq
    assert(messages.exists(_.contains("first injected")), messages.mkString(" | "))
    assert(!messages.exists(_.contains("second injected")), messages.mkString(" | "))
    // the three completed siblings are released, and so is the RDD each
    // failed job persisted inside Spark's localCheckpoint
    assert(census.left.isEmpty, s"the wave left blocks: ${census.left.mkString(",")}")
    // the seam stays usable, and a clean wave's blocks are owned until close
    val Seq(a, b) = seam.checkpointAll(Seq(frames(0), frames(2)))
    assert(a.count() === 20L && b.count() === 30L)
    assert(census.left.size === 2)
    seam.close()
    assert(census.left.isEmpty, census.left.mkString(","))
  }
}
