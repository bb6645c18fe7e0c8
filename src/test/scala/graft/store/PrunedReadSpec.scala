package graft.store

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** prunedPartitionRead is the point-read posture every index probe rides
  * (r17: listing follows the probe, never the index; r18: one alternation
  * glob, schema memoized, and an EMPTY probe answers with an empty frame
  * of the table schema instead of a full-table fallback read). Pin the
  * semantics: probed values read only their directories; values absent
  * from the layout yield zero rows with the FULL table schema (callers
  * select/filter by name on the result). */
class PrunedReadSpec extends AnyFunSuite {

  private final class Fixture(
      protected val spark: org.apache.spark.sql.SparkSession,
      protected val path: String) extends StatsLastIndexStore {
    def readValues(table: String, partCol: String, vs: Seq[Any]) =
      prunedPartitionRead(table, partCol, vs)
  }

  test("probed values read only their partitions; empty probe = empty frame, table schema") {
    val spark = graft.core.GraftSession.local(2)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pruned").toString
    val table = s"$dir/assignments"
    Seq((1L, 10, "a"), (2L, 10, "b"), (3L, 20, "c"), (4L, 30, "d"))
      .toDF("id", "part", "payload")
      .write.partitionBy("part").parquet(table)
    val fx = new Fixture(spark, dir)

    // one present value: only that partition's rows
    val one = fx.readValues(table, "part", Seq(10))
    assert(one.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))

    // several values through the single alternation glob, absent ones ignored
    val multi = fx.readValues(table, "part", Seq(10, 30, 99))
    assert(multi.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 4L))

    // EMPTY probe (no value has a directory): zero rows, but the frame
    // carries the full table schema — downstream select/filter by name
    // must still resolve (r17 ADVICE #2: the old path fell back to a
    // full-table read here)
    val none = fx.readValues(table, "part", Seq(98, 99))
    assert(none.count() === 0L)
    assert(none.columns.toSet === Set("id", "part", "payload"))
    assert(none.filter(col("part").isin(98, 99)).select("id").count() === 0L)

    // NO probed value: the same zero-row frame, without building a `{}`
    // glob (which names a literal "{}" directory)
    val nothing = fx.readValues(table, "part", Seq.empty)
    assert(nothing.count() === 0L)
    assert(nothing.columns.toSet === Set("id", "part", "payload"))

    // values go into the glob unescaped, so only integral ids are accepted:
    // "*" or "1,2}" would widen the probe to directories it never named
    for (bad <- Seq[Seq[Any]](Seq("*"), Seq(10, "1,2}"), Seq(10.0)))
      intercept[IllegalArgumentException](fx.readValues(table, "part", bad))
    assert(fx.readValues(table, "part", Seq(20L)).select("id").as[Long].collect().toSeq ===
      Seq(3L))
  }
}
