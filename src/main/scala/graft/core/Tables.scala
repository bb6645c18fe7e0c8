package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Accessors for the driver-provided test tables (TESTDATA.md).
  *
  * Every query entry point receives `(spark, sfDir)` and loads through here so
  * path handling and any future source options live in one place. Reads are
  * plain parquet scans — Catalyst handles column pruning + predicate pushdown,
  * which is the load-bearing property at 100 TB (only the referenced columns
  * and row groups are read).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `spark.read.parquet(path)` with the inferred schema memoized behind
    * the dir's filesystem signature ([[SourceStamp.memo]]). Every FRESH
    * parquet open otherwise pays footer-read schema inference — a small
    * Spark job plus 0.1–0.5 s of driver-side latency at the local floor —
    * per QUERY for the source tables (r18 job-timeline attribution: ~2.5 s
    * of zero-job driver gaps in one d_delta_pipeline pass, clustered around
    * these opens; the persisted stores memoize on their immutable
    * directories instead, [[graft.store.StoreLog]]). A
    * real deployment reads the schema from a catalog/manifest instead of
    * re-inferring per query; the signature-keyed memo is the engine's
    * in-JVM twin of that. The schema is a pure function of the dir's
    * contents (every graft session fixes the same parquet confs —
    * nanosAsLong, no NTZ inference), so a signature hit is exactly as
    * fresh as re-inferring, and any append/rewrite re-infers. StructType
    * is immutable and session-free, so sharing across sessions is safe
    * (memoizing the DataFrame itself would not be). Data work is
    * untouched: only the schema probe is memoized, every scan still reads
    * the parquet inputs. */
  def openParquet(spark: SparkSession, path: String): DataFrame = {
    val schema = SourceStamp.memo(path, "parquetSchema") {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = openParquet(spark, s"$sfDir/$name.parquet")
    // events.ts is parquet TIMESTAMP(NANOS), which Spark only reads as a raw
    // long (spark.sql.legacy.parquet.nanosAsLong). Convert to a microsecond
    // TIMESTAMP here (integer division — exact), matching DuckDB's own
    // ns→µs truncation, so downstream operators see a real timestamp column.
    df.schema.find(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType) match {
      case Some(_) =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case None => df
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
