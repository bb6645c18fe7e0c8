package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.core.Tables

/** Relational operator inventory (SURVEY.md §2) exercised on the driver's
  * TPC-H-ish tables, each with a DuckDB oracle.
  *
  * Numeric-parity rules (so the hash compare is bit-exact between engines):
  *  - SUM over doubles goes through an exact DECIMAL cast, then back to
  *    DOUBLE: row-level double arithmetic is IEEE-identical in both engines,
  *    decimal summation is order-independent, and decimal→double is exact.
  *  - AVG/STDDEV outputs are rounded (summation order may differ by ULPs).
  *  - Timestamps are always emitted as formatted strings (UTC session).
  */
object Relational {

  /** exact sum of a double expression: decimal-cast each row, sum, cast back */
  private def dsum(c: Column, scale: Int = 8): Column =
    sum(c.cast(DecimalType(30, scale))).cast("double")

  val qs: Seq[Q] = Seq(

    // ----- S1/S2/O4: scans, projection pruning, predicate pushdown -----
    Q("s1_scan_project",
      (s, d) => Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    Q("s2_predicate_scan",
      (s, d) => Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 150000)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
             |WHERE o_orderstatus = 'F' AND o_totalprice > 150000
             |ORDER BY o_orderkey""".stripMargin)),

    // ----- JSONL source round trip: training corpora ARRIVE as jsonl, so
    // the engine must read it losslessly. Documents are staged as .json
    // (control chars and unicode escape through JSON) and read back with
    // an EXPLICIT schema — schema inference over 100 TB of jsonl is a full
    // extra corpus pass, never acceptable at scale — then compared against
    // the parquet source by the oracle; any escaping or type-coercion loss
    // in the reader breaks the hash. -----
    Q("s_jsonl_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        // keyed by session id + dataset: concurrent drivers (Verify vs
        // Bench, parallel CI) never overwrite each other's stage mid-read
        val stage = s"${System.getProperty("java.io.tmpdir")}/graft-jsonl-" +
          s.sparkContext.applicationId + "-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        Tables.documents(s, d).select("doc_id", "lang", "source", "text")
          .write.mode("overwrite").json(stage)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("source", StringType), StructField("text", StringType)))
        s.read.schema(schema).json(stage)
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text")).cast("long").as("text_len"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, length(text)::BIGINT AS text_len,
             |       md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- source: CSV round-trip. The documents table staged as quoted
    // CSV (embedded commas, quotes, and newlines in `text` force the
    // writer's quoting + quote-doubling paths) and read back with an
    // EXPLICIT schema and multiLine=true — required for quoted embedded
    // newlines. Scale note: multiLine CSV is non-splittable (one task per
    // file), so at 100 TB the writer side must keep shards bounded
    // (maxRecordsPerFile) — parallelism then comes from file count, which
    // this staging write produces naturally (one file per input
    // partition). Oracle compares against the parquet source: any
    // quoting/escape/coercion loss in either direction breaks the hash. -----
    Q("s_csv_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        // keyed by session id + dataset: concurrent drivers (Verify vs
        // Bench, parallel CI) never overwrite each other's stage mid-read
        val stage = s"${System.getProperty("java.io.tmpdir")}/graft-csv-" +
          s.sparkContext.applicationId + "-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        Tables.documents(s, d).select("doc_id", "lang", "source", "text")
          .write.mode("overwrite")
          .option("header", "true").option("quoteAll", "true")
          .option("escape", "\"") // RFC 4180 quote-doubling, not backslash
          .csv(stage)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("source", StringType), StructField("text", StringType)))
        s.read.schema(schema)
          .option("header", "true").option("multiLine", "true")
          .option("escape", "\"")
          .csv(stage)
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text")).cast("long").as("text_len"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, length(text)::BIGINT AS text_len,
             |       md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- source: XML round-trip (Spark 4 built-in XML datasource). The
    // documents table staged as <doc> row elements and read back with an
    // EXPLICIT schema — entity escaping (&, <, >, quotes) and control-char
    // handling in `text` are the load-bearing paths; the oracle against
    // the parquet source breaks on any round-trip loss. Scale note: like
    // multiLine CSV, XML rows spanning lines make per-file tasks; shard
    // count from the staging write is the parallelism. -----
    Q("s_xml_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        // keyed by session id + dataset: concurrent drivers (Verify vs
        // Bench, parallel CI) never overwrite each other's stage mid-read
        val stage = s"${System.getProperty("java.io.tmpdir")}/graft-xml-" +
          s.sparkContext.applicationId + "-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        Tables.documents(s, d).select("doc_id", "lang", "source", "text")
          .write.mode("overwrite")
          .option("rowTag", "doc").option("rootTag", "docs")
          .xml(stage)
        val schema = StructType(Seq(
          StructField("doc_id", LongType), StructField("lang", StringType),
          StructField("source", StringType), StructField("text", StringType)))
        s.read.schema(schema).option("rowTag", "doc").xml(stage)
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text")).cast("long").as("text_len"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, length(text)::BIGINT AS text_len,
             |       md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- source: ORC round-trip — the second columnar format large
    // lakehouses actually hold (Hive-era estates are ORC). Spark-native
    // writer/reader; splittable, predicate-pushdown-capable, so unlike the
    // text sources above this one is a first-class 100 TB scan format.
    // Oracle compares against the parquet source: any type-mapping or
    // string-encoding loss across the columnar round-trip breaks the
    // hash. -----
    Q("s_orc_roundtrip",
      (s, d) => {
        // keyed by session id + dataset: concurrent drivers (Verify vs
        // Bench, parallel CI) never overwrite each other's stage mid-read
        val stage = s"${System.getProperty("java.io.tmpdir")}/graft-orc-" +
          s.sparkContext.applicationId + "-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        Tables.documents(s, d).select("doc_id", "lang", "source", "text")
          .write.mode("overwrite").orc(stage)
        s.read.orc(stage)
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text")).cast("long").as("text_len"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, length(text)::BIGINT AS text_len,
             |       md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- source: Avro round-trip at the RECORD-CODEC level (the avro
    // core library; no connector needed): each partition serializes its
    // rows into one Avro object-container blob (deflate codec, schema
    // embedded) and a second distributed stage decodes the blobs back.
    // This is the Kafka/ingest interchange shape — records arrive as Avro
    // payloads, not as files a DataSource can claim. The oracle is the
    // same identity as the ORC round-trip: any schema-mapping or
    // string-encoding loss breaks the hash. Scale shape: both stages are
    // mapPartitions (no driver bytes, no shuffle beyond the final sort). -----
    Q("s_avro_roundtrip",
      (s, d) => {
        import org.apache.spark.sql.types._
        import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
        val docs = Tables.documents(s, d).select("doc_id", "lang", "source", "text")
        val schemaJson =
          """{"type":"record","name":"Doc","namespace":"graft","fields":[
            |{"name":"doc_id","type":"long"},{"name":"lang","type":"string"},
            |{"name":"source","type":"string"},{"name":"text","type":"string"}]}"""
            .stripMargin
        val blobSchema = StructType(Seq(StructField("blob", BinaryType, nullable = false)))
        val blobs = docs.mapPartitions { it =>
          if (it.isEmpty) Iterator.empty
          else {
            val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
            val fw = new org.apache.avro.file.DataFileWriter(
              new GenericDatumWriter[GenericRecord](schema))
            fw.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
            val bos = new java.io.ByteArrayOutputStream()
            fw.create(schema, bos)
            it.foreach { r =>
              val rec = new GenericData.Record(schema)
              rec.put("doc_id", r.getLong(0))
              rec.put("lang", r.getString(1))
              rec.put("source", r.getString(2))
              rec.put("text", r.getString(3))
              fw.append(rec)
            }
            fw.close()
            Iterator.single(Row(bos.toByteArray))
          }
        }(Encoders.row(blobSchema))
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("lang", StringType, nullable = false),
          StructField("source", StringType, nullable = false),
          StructField("text", StringType, nullable = false)))
        blobs.mapPartitions { it =>
          it.flatMap { row =>
            val fr = new org.apache.avro.file.DataFileReader(
              new org.apache.avro.file.SeekableByteArrayInput(row.getAs[Array[Byte]](0)),
              new GenericDatumReader[GenericRecord]())
            val out = scala.collection.mutable.ArrayBuffer.empty[Row]
            while (fr.hasNext) {
              val rec = fr.next()
              out += Row(rec.get("doc_id").asInstanceOf[Long],
                rec.get("lang").toString, rec.get("source").toString,
                rec.get("text").toString)
            }
            fr.close()
            out.iterator
          }
        }(Encoders.row(outSchema))
          // hash/length through Spark's own functions (not Scala's UTF-16
          // String ops) so the character semantics match the oracle's
          .select(col("doc_id"), col("lang"), col("source"),
            length(col("text")).cast("long").as("text_len"),
            md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source, length(text)::BIGINT AS text_len,
             |       md5(text) AS text_md5
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // ----- P2: range predicate (chunkIndex BETWEEN analog) -----
    Q("p2_range_predicate",
      (s, d) => Tables.lineitem(s, d)
        .filter(col("l_linenumber").between(2, 4))
        .select("l_orderkey", "l_linenumber", "l_partkey")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
             |WHERE l_linenumber BETWEEN 2 AND 4
             |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // ----- P3: scope prefix predicate (exact-or-descendant path match) -----
    Q("p3_scope_prefix",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("path", concat(lit("/corpus/"), col("lang"), lit("/"), col("source")))
        docs.filter(graft.core.ScopeMatch.inScope(col("path"), Seq("/corpus/en")))
          .select("doc_id", "path").orderBy("doc_id")
      },
      Some("""WITH t AS (SELECT doc_id, '/corpus/' || lang || '/' || source AS path FROM documents)
             |SELECT doc_id, path FROM t
             |WHERE path = '/corpus/en' OR path LIKE '/corpus/en/%'
             |ORDER BY doc_id""".stripMargin)),

    // ----- P4: IN-list predicate -----
    Q("p4_in_list",
      (s, d) => Tables.documents(s, d)
        .filter(col("lang").isin("en", "zh"))
        .select("doc_id", "lang").orderBy("doc_id"),
      Some("SELECT doc_id, lang FROM documents WHERE lang IN ('en','zh') ORDER BY doc_id")),

    // ----- P9: garbage-chunk filter (decoration/repeated-char detection) -----
    Q("p9_garbage_flag",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val chars = docs.select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        val maxc = chars.groupBy("doc_id", "ch").count()
          .groupBy("doc_id").agg(max("count").as("maxc"))
        docs.join(maxc, "doc_id")
          .select(col("doc_id"),
            (!col("text").rlike("[a-zA-Z0-9]") ||
              (col("maxc") * 1.0) / length(col("text")) > 0.8).as("is_garbage"))
          .orderBy("doc_id")
      },
      Some("""WITH c AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
             |m AS (SELECT doc_id, max(cnt) AS maxc
             |      FROM (SELECT doc_id, ch, count(*) AS cnt FROM c GROUP BY 1, 2) GROUP BY 1)
             |SELECT d.doc_id,
             |       (NOT regexp_matches(d.text, '[a-zA-Z0-9]'))
             |       OR (m.maxc * 1.0 / length(d.text) > 0.8) AS is_garbage
             |FROM documents d JOIN m ON d.doc_id = m.doc_id
             |ORDER BY d.doc_id""".stripMargin)),

    // ----- P10: min-length filter -----
    Q("p10_min_length",
      (s, d) => Tables.documents(s, d)
        .filter(length(col("text")) >= 200)
        .select("doc_id", "n_chars").orderBy("doc_id"),
      Some("SELECT doc_id, n_chars FROM documents WHERE length(text) >= 200 ORDER BY doc_id")),

    // ----- A1: per-file group-by (listFiles: count + max timestamp) -----
    Q("a1_per_file_group",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("file_key"))
        .agg(count(lit(1)).as("chunk_count"),
          date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("last_ts"))
        .orderBy("file_key"),
      Some("""SELECT l_orderkey AS file_key, count(*) AS chunk_count,
             |       strftime(max(l_shipdate), '%Y-%m-%d') AS last_ts
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // ----- A2: count -----
    Q("a2_count",
      (s, d) => Tables.lineitem(s, d).agg(count(lit(1)).as("chunk_count")),
      Some("SELECT count(*) AS chunk_count FROM lineitem")),

    // ----- A3: distinct count -----
    Q("a3_distinct_count",
      (s, d) => Tables.lineitem(s, d)
        .agg(countDistinct(col("l_partkey")).as("document_count")),
      Some("SELECT count(DISTINCT l_partkey) AS document_count FROM lineitem")),

    // ----- A4: min-per-group (best score per file) -----
    Q("a4_min_per_group",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_orderkey").agg(min("l_extendedprice").as("best_score"))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey, min(l_extendedprice) AS best_score
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- A5: scalar-max normalization (computed as scalar agg + broadcast
    // join, NOT a single-partition window — the 100 TB-safe shape) -----
    Q("a5_max_normalize",
      (s, d) => {
        val ev = Tables.events(s, d)
        val mx = ev.agg(max("value").as("mx"))
        ev.crossJoin(broadcast(mx))
          .select(col("event_id"), round(col("value") / col("mx"), 6).as("norm"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, round(value / (SELECT max(value) FROM events), 6) AS norm
             |FROM events ORDER BY event_id""".stripMargin)),

    // ----- A6: gap statistics (mean + population stddev of lead-gaps) -----
    Q("a6_gap_stats",
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy("value", "event_id")
        Tables.events(s, d)
          .withColumn("gap", lead("value", 1).over(w) - col("value"))
          .filter(col("gap").isNotNull)
          .groupBy("event_type")
          .agg(round(avg("gap"), 6).as("mean_gap"),
            round(stddev_pop(col("gap")), 6).as("sd_gap"))
          .orderBy("event_type")
      },
      Some("""WITH g AS (SELECT event_type,
             |  lead(value) OVER (PARTITION BY event_type ORDER BY value, event_id) - value AS gap
             |  FROM events)
             |SELECT event_type, round(avg(gap), 6) AS mean_gap,
             |       round(stddev_pop(gap), 6) AS sd_gap
             |FROM g WHERE gap IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- A7: median (exact, reference uses exact median) -----
    Q("a7_median",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(round(expr("median(l_quantity)"), 2).as("med_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, round(CAST(median(l_quantity) AS DOUBLE), 2) AS med_qty
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- A9: manifest grouping (distinct spellings per key, sorted) -----
    Q("a9_manifest_group",
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("key"))
        .agg(concat_ws(",", array_sort(collect_set(col("l_returnflag")))).as("spellings"),
          count(lit(1)).as("row_cnt"))
        .orderBy("key"),
      Some("""SELECT l_orderkey AS key,
             |       coalesce(string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag), '') AS spellings,
             |       count(*) AS row_cnt
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- flagship aggregation (TPC-H Q1 shape; exact decimal sums).
    // The 2dp money sums run TWO-LEVEL: Spark's decimal aggregation buffer
    // is compact (one long) only while the result precision stays <= 18,
    // i.e. input precision <= 8 under the sum's +10 rule — a DECIMAL(30,2)
    // sum accumulates through BigDecimal and measures 5x the scan
    // (Q1Probe scratch main, now in git history; sf0.1: scan 0.20 s,
    // decimal30 sums 1.02 s, compact 0.49 s).
    // Level 1 groups by (keys, partition id) and sums exact DECIMAL(8,2)
    // per-row casts in compact buffers — safe because one partition's
    // partial is bounded by split size (≤ ~6M rows × 1e7 cents ≈ 6e13,
    // margin 160x under DECIMAL(18,2)'s 1e16); level 2 re-sums the few
    // (groups × partitions) partials in wide DECIMAL(38,2), unbounded at
    // any corpus scale. Exactness: 2dp inputs < 1e6 cast losslessly to
    // (8,2), and decimal addition is associative — bit-identical to the
    // one-level DECIMAL(30,2) sum the oracle runs.
    //
    // The 8dp disc term has no compact decimal path (scale 8 needs
    // precision <= 8), so its per-row DECIMAL(30,8) value rides as its
    // UNSCALED long k (same construction as Spark's double->decimal cast:
    // shortest decimal repr, setScale(8, HALF_UP) — BigDecimal.valueOf IS
    // Double.toString; per-row k < 1e13, longValueExact guards), summed as
    // two compact longs: level 1 (k div 1e8, k mod 1e8) — per-partition
    // hi ≤ 6M·1e5 = 6e11, lo ≤ 6M·1e8 = 6e14 — level 2 carry-normalizes
    // each partial (lo < 1e8 after) then long-sums: hi bounded by the
    // total sum (< 9e13 even at 1e12 rows x 1e5), lo by partitions × 1e8
    // (9e10 partitions before overflow). Probe: the wide-decimal sum cost
    // 0.6 s over the scan at sf0.1; this shape ~0.2 s (Q1Probe ladder, git
    // history).
    // round-2 on the final output: per-row double->decimal casts can
    // disagree between engines in the last decimal ulp; at sf0.1 the
    // accumulated 1e-8 noise crossed a double ulp at 5e9 magnitude — the
    // hi + lo/1e8 double reconstruction sits inside the same tolerance. -----
    Q("q1_pricing_summary",
      (s, d) => {
        // DOMAIN GUARDS (r15 ADVICE): the per-row UDF requires the 2dp
        // inputs inside the DECIMAL(8,2) domain — a violation throws,
        // never nulls; the level-2 re-sum additionally raise_errors if a
        // level-1 DECIMAL(18,2) partial ever null-overflowed (needs ~1e10
        // rows × 1e6 in ONE scan partition — beyond any real split, but
        // the failure mode must be loud, not a silently smaller sum).
        // The guard conditions on that COLUMN's non-null count, not row
        // count (r16 ADVICE): sum() is also null over an all-null group,
        // which is a legitimate null result, not an overflow.
        def partial(c: Column, nonNullCnt: Column): Column =
          when(c.isNull && nonNullCnt > 0, raise_error(lit(
            "q1 level-1 decimal partial overflowed DECIMAL(18,2) — shrink input splits")))
            .otherwise(c)
        Tables.lineitem(s, d)
          .withColumn("_k", Decimals.q1Unscaled8(
            col("l_extendedprice"), col("l_quantity"), col("l_discount")))
          .groupBy(col("l_returnflag"), col("l_linestatus"),
            spark_partition_id().as("_pid"))
          .agg(
            sum(col("l_quantity").cast(DecimalType(8, 2))).as("_p_qty"),
            sum(col("l_extendedprice").cast(DecimalType(8, 2))).as("_p_base"),
            sum(expr("_k div 100000000")).as("_p_hi"),
            sum(col("_k") % 100000000L).as("_p_lo"),
            count(col("l_quantity")).as("_p_qty_cnt"),
            count(col("l_extendedprice")).as("_p_base_cnt"),
            count(lit(1)).as("_p_cnt"))
          .withColumn("_hi", col("_p_hi") + expr("_p_lo div 100000000"))
          .withColumn("_lo", col("_p_lo") % 100000000L)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(partial(col("_p_qty"), col("_p_qty_cnt"))
              .cast(DecimalType(38, 2))).cast("double").as("sum_qty"),
            sum(partial(col("_p_base"), col("_p_base_cnt"))
              .cast(DecimalType(38, 2))).cast("double").as("sum_base_price"),
            (round(sum(col("_hi")).cast("double") +
              sum(col("_lo")).cast("double") / 1e8, 2) + lit(0.0)).as("sum_disc_price"),
            sum(col("_p_cnt")).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty,
             |  CAST(sum(CAST(l_extendedprice AS DECIMAL(30,2))) AS DOUBLE) AS sum_base_price,
             |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 2) + 0.0 AS sum_disc_price,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // ----- join + agg + top-k (TPC-H Q3 shape; broadcast the dims) -----
    Q("q3_topk_join",
      (s, d) => {
        val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") < to_timestamp(lit("1998-01-01")))
        val li = Tables.lineitem(s, d)
          .filter(col("l_shipdate") > to_timestamp(lit("1998-01-01")))
        // No broadcast hints: orders/customer are fact-sized at scale (a forced
        // broadcast OOMs at 100x); AQE picks broadcast vs shuffled-hash by the
        // measured post-filter size instead.
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"))
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |  AND o_orderdate < TIMESTAMP '1998-01-01'
             |  AND l_shipdate > TIMESTAMP '1998-01-01'
             |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),
      bench = true),

    // ----- multi-way join (TPC-H Q5 shape) -----
    Q("q5_region_revenue",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("1996-01-01")) &&
            col("o_orderdate") < to_timestamp(lit("1997-01-01")))
        val asia = broadcast(Tables.nation(s, d)
          .join(Tables.region(s, d).filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey")))
        // Broadcast only the true dimension (nation x region, 5-25 rows).
        // orders/customer/supplier grow with the fact data: hints removed so
        // AQE selects the join strategy from runtime sizes.
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(Tables.supplier(s, d),
            col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
          .join(asia, col("c_nationkey") === col("n_nationkey"))
          .groupBy("n_name")
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("n_name"))
      },
      Some("""SELECT n_name,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
             |JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |  AND o_orderdate >= TIMESTAMP '1996-01-01'
             |  AND o_orderdate < TIMESTAMP '1997-01-01'
             |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin),
      bench = true),

    // ----- returned-item revenue (TPC-H Q10 shape: join + agg + top-k) -----
    Q("q10_returned_revenue",
      (s, d) => {
        // orders/customer are fact-sized (sf-proportional): no forced broadcast —
        // a hint here OOMs the build side at 100×. AQE still broadcasts them at
        // small sf; only the true dim (nation, 25 rows) keeps the hint.
        val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        li.join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, n_name,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue
             |FROM lineitem
             |JOIN orders ON l_orderkey = o_orderkey
             |JOIN customer ON o_custkey = c_custkey
             |JOIN nation ON c_nationkey = n_nationkey
             |WHERE l_returnflag = 'R'
             |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),

    // ----- TPC-H Q14 shape: promo revenue share. part is sf-proportional
    // (~20 M rows at sf100), not a true dim — no forced broadcast; AQE picks
    // the broadcast strategy at small sf where it actually fits. -----
    Q("q14_promo_share",
      (s, d) => Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .agg(
          (round(
            sum(when(col("p_type") === "PROMO",
                (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
                  .cast(DecimalType(30, 8))).otherwise(lit(0).cast(DecimalType(30, 8))))
              .cast("double") * 100.0 /
            sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .cast(DecimalType(30, 8))).cast("double"), 6) + lit(0.0)).as("promo_pct"),
          dsum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(lit(0.0)))
            .as("promo_revenue")),
      Some("""SELECT
             |  round(CAST(sum(CASE WHEN p_type = 'PROMO'
             |          THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))
             |          ELSE CAST(0 AS DECIMAL(30,8)) END) AS DOUBLE) * 100.0 /
             |        CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE), 6) + 0.0
             |    AS promo_pct,
             |  CAST(sum(CASE WHEN p_type = 'PROMO'
             |      THEN CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))
             |      ELSE CAST(0.0 AS DECIMAL(30,8)) END) AS DOUBLE) AS promo_revenue
             |FROM lineitem JOIN part ON l_partkey = p_partkey""".stripMargin)),

    // ----- semi-structured: JSON property extraction + aggregation over
    // the events.props JSON column -----
    Q("f_json_props",
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("k_sum"), count(lit(1)).as("cnt"),
          min("k").as("k_min"), max("k").as("k_max"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
             |  count(*) AS cnt,
             |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
             |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- nested collect: per-group sorted list agg (deterministic via
    // sort_array before the join to string) -----
    Q("a_collect_sorted",
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(concat_ws(",",
          sort_array(collect_list(col("l_linenumber")))).as("linenumbers"))
        .orderBy("l_orderkey"),
      Some("""SELECT l_orderkey,
             |  string_agg(l_linenumber, ',' ORDER BY l_linenumber) AS linenumbers
             |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- exact interpolated quantiles (p50/p90/p99 latency-style stats) -----
    Q("a7b_quantiles",
      (s, d) => Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.5D)"), 6).as("p50"),
          round(expr("percentile(value, 0.9D)"), 6).as("p90"),
          round(expr("percentile(value, 0.99D)"), 6).as("p99"))
        .orderBy("event_type"),
      Some("""SELECT event_type,
             |  round(quantile_cont(value, 0.5), 6) AS p50,
             |  round(quantile_cont(value, 0.9), 6) AS p90,
             |  round(quantile_cont(value, 0.99), 6) AS p99
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- J4: list cross-reference (left join + ingested flag) -----
    Q("j4_list_join",
      (s, d) => {
        val agg = Tables.lineitem(s, d)
          .groupBy("l_orderkey").agg(count(lit(1)).as("cnt"))
        Tables.orders(s, d)
          .join(agg, col("o_orderkey") === col("l_orderkey"), "left_outer")
          .select(col("o_orderkey"),
            coalesce(col("cnt"), lit(0L)).as("chunk_count"),
            col("cnt").isNotNull.as("ingested"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, coalesce(c.cnt, 0) AS chunk_count, c.cnt IS NOT NULL AS ingested
             |FROM orders o
             |LEFT JOIN (SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY 1) c
             |  ON o.o_orderkey = c.l_orderkey
             |ORDER BY o_orderkey""".stripMargin)),

    // ----- J5: anti-join classifier (keys with no match) -----
    Q("j5_anti_orphans",
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_name FROM customer c
             |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
             |ORDER BY c_custkey""".stripMargin)),

    // ----- J7: dedup-by-key, first wins (deterministic via row_number) -----
    Q("j7_dedup_first",
      (s, d) => {
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
        // the tiebreak must reach a total order or first-wins is undefined
        val w = Window.partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_partkey", "l_suppkey")
        Tables.lineitem(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("l_orderkey", "l_linenumber", "l_partkey")
          .orderBy("l_orderkey")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_partkey FROM (
             |  SELECT l_orderkey, l_linenumber, l_partkey,
             |         row_number() OVER (PARTITION BY l_orderkey
             |           ORDER BY l_linenumber, l_partkey, l_suppkey) AS rn
             |  FROM lineitem) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin)),

    // ----- W3: neighbor range read (chunkIndex in [target-2, target+2]) -----
    Q("w3_neighbors",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val tgt = li.groupBy("l_orderkey").count().filter(col("count") >= 5)
          .agg(min("l_orderkey").as("k"))
        li.join(broadcast(tgt), col("l_orderkey") === col("k"))
          .filter(col("l_linenumber").between(1, 5))
          .select(col("l_orderkey"), col("l_linenumber"),
            (col("l_linenumber") === 3).as("is_target"))
          .orderBy("l_linenumber")
      },
      Some("""WITH tgt AS (SELECT min(l_orderkey) AS k FROM (
             |    SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(*) >= 5) t)
             |SELECT l_orderkey, l_linenumber, l_linenumber = 3 AS is_target
             |FROM lineitem, tgt WHERE l_orderkey = tgt.k AND l_linenumber BETWEEN 1 AND 5
             |ORDER BY l_linenumber""".stripMargin)),

    // ----- W4: consecutive-run detection (gaps-and-islands) -----
    Q("w4_longest_run",
      (s, d) => {
        val wAll = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wTyp = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
        Tables.events(s, d)
          .withColumn("grp", row_number().over(wAll) - row_number().over(wTyp))
          .groupBy("user_id", "event_type", "grp").agg(count(lit(1)).as("run_len"))
          .groupBy("user_id").agg(max("run_len").as("max_run"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (SELECT user_id, event_type,
             |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             |  - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
             |  FROM events)
             |SELECT user_id, max(run_len) AS max_run FROM (
             |  SELECT user_id, event_type, grp, count(*) AS run_len FROM o GROUP BY 1, 2, 3)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- W6: explicit frame spec — running total per partition -----
    Q("w6_running_total",
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.orders(s, d).filter(col("o_custkey") % 100 === 0)
          .withColumn("running_spend",
            sum(col("o_totalprice").cast(DecimalType(30, 2))).over(w).cast("double"))
          .select(col("o_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("running_spend"))
          .orderBy("o_custkey", "orderdate", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(30,2))) OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
             |FROM orders WHERE o_custkey % 100 = 0
             |ORDER BY o_custkey, orderdate, o_orderkey""".stripMargin)),

    // ----- U1: union + dedup -----
    Q("u1_union_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.filter(col("doc_id") % 2 === 0).select(col("lang").as("val"))
          .union(docs.filter(col("doc_id") % 3 === 0).select(col("lang").as("val")))
          .distinct().orderBy("val")
      },
      Some("""SELECT lang AS val FROM documents WHERE doc_id % 2 = 0
             |UNION SELECT lang FROM documents WHERE doc_id % 3 = 0
             |ORDER BY val""".stripMargin)),

    // ----- A10: set-union accumulators (coverage arrays / candidate sets) -----
    Q("a10_set_union",
      (s, d) => {
        val docs = Tables.documents(s, d)
        docs.filter(col("doc_id") % 2 === 0).select("lang", "source")
          .union(docs.filter(col("doc_id") % 3 === 0).select("lang", "source"))
          .distinct()
          .groupBy("lang")
          .agg(concat_ws(",", array_sort(collect_set(col("source")))).as("sources"),
            count(lit(1)).as("n_sources"))
          .orderBy("lang")
      },
      Some("""SELECT lang,
             |  coalesce(string_agg(DISTINCT source, ',' ORDER BY source), '') AS sources,
             |  count(*) AS n_sources
             |FROM (SELECT lang, source FROM documents WHERE doc_id % 2 = 0
             |      UNION SELECT lang, source FROM documents WHERE doc_id % 3 = 0)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- table profiling sweep: per-column null count / distinct count /
    // min / max in ONE scan — the data-quality pass every lakehouse runs
    // before trusting a drop. One multi-aggregate pass then an explode-melt
    // into (column, stats) rows; exact countDistinct per column keeps the
    // oracle exact (at 100 TB the distinct columns switch to the HLL
    // sketch above — same layout, approximate registers). Ints + strings
    // only: float/timestamp rendering differs per engine, and those
    // columns profile through typed min/max queries instead. -----
    Q("a_profile_table",
      (s, d) => {
        val cols = Seq("l_orderkey", "l_partkey", "l_suppkey",
          "l_linenumber", "l_returnflag", "l_linestatus")
        val li = Tables.lineitem(s, d)
        val aggs = cols.flatMap(c => Seq(
          sum(when(col(c).isNull, 1).otherwise(0)).cast("long").as(s"${c}__nn"),
          countDistinct(col(c)).as(s"${c}__nd"),
          min(col(c)).cast("string").as(s"${c}__mn"),
          max(col(c)).cast("string").as(s"${c}__mx")))
        val one = li.agg(aggs.head, aggs.tail: _*)
        val melted = cols.map(c => struct(
          lit(c).as("col_name"), col(s"${c}__nn").as("n_null"),
          col(s"${c}__nd").as("n_distinct"), col(s"${c}__mn").as("min_v"),
          col(s"${c}__mx").as("max_v")))
        one.select(explode(array(melted: _*)).as("r"))
          .select("r.*").orderBy("col_name")
      },
      Some("""SELECT * FROM (
             |  SELECT 'l_orderkey' AS col_name,
             |    sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
             |    count(DISTINCT l_orderkey) AS n_distinct,
             |    min(l_orderkey)::VARCHAR AS min_v, max(l_orderkey)::VARCHAR AS max_v
             |  FROM lineitem
             |  UNION ALL SELECT 'l_partkey',
             |    sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
             |    count(DISTINCT l_partkey),
             |    min(l_partkey)::VARCHAR, max(l_partkey)::VARCHAR FROM lineitem
             |  UNION ALL SELECT 'l_suppkey',
             |    sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
             |    count(DISTINCT l_suppkey),
             |    min(l_suppkey)::VARCHAR, max(l_suppkey)::VARCHAR FROM lineitem
             |  UNION ALL SELECT 'l_linenumber',
             |    sum(CASE WHEN l_linenumber IS NULL THEN 1 ELSE 0 END)::BIGINT,
             |    count(DISTINCT l_linenumber),
             |    min(l_linenumber)::VARCHAR, max(l_linenumber)::VARCHAR FROM lineitem
             |  UNION ALL SELECT 'l_returnflag',
             |    sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)::BIGINT,
             |    count(DISTINCT l_returnflag),
             |    min(l_returnflag), max(l_returnflag) FROM lineitem
             |  UNION ALL SELECT 'l_linestatus',
             |    sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
             |    count(DISTINCT l_linestatus),
             |    min(l_linestatus), max(l_linestatus) FROM lineitem)
             |ORDER BY col_name""".stripMargin)),

    // ----- cardinality sketch: HyperLogLog over the portable 60-bit hash.
    // The register layout (low b=6 bits → register, leading-zero run of
    // the remaining 54 bits → rho) is replayed EXACTLY by the oracle, so
    // the harmonic estimator and linear-counting branch are pinned — not
    // just "approximately right". exact_distinct rides along so the row
    // documents the sketch's actual error. -----
    Q("a_hll_distinct",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val est = graft.ops.Sketches.hllEstimate(
          graft.ops.Sketches.hllRegisters(docs, col("text"), 6), 6)
        est.crossJoin(
          docs.agg(countDistinct(col("text")).as("exact_distinct")))
      },
      Some("""WITH h AS (SELECT CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
             |  FROM documents),
             |r AS (SELECT h % 64 AS register, h // 64 AS w FROM h),
             |rho AS (SELECT register,
             |    CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rho
             |  FROM r),
             |regs AS (SELECT register, max(rho) AS max_rho FROM rho GROUP BY 1),
             |agg AS (SELECT count(*) AS present,
             |    sum(power(2.0, -max_rho)) AS ssum FROM regs),
             |est AS (SELECT CAST(64 AS BIGINT) AS m,
             |    64 - present AS n_zero,
             |    0.709 * 64 * 64 / (ssum + (64 - present)) AS est_raw
             |  FROM agg)
             |SELECT m, n_zero,
             |  CASE WHEN est_raw <= 160.0 AND n_zero > 0
             |       THEN round(64.0 * ln(64.0 / n_zero), 4)
             |       ELSE round(est_raw, 4) END AS est,
             |  CASE WHEN est_raw <= 160.0 AND n_zero > 0
             |       THEN 'linear' ELSE 'hll' END AS method,
             |  (SELECT count(DISTINCT text) FROM documents) AS exact_distinct
             |FROM est""".stripMargin)),

    // ----- per-group HLL: distinct texts PER LANGUAGE — the form
    // distinct-counting takes in production ("distinct docs per
    // domain/day"); sketch state is 64 rows per group, the whole grouped
    // register table still one map-side-combinable aggregate. Exact
    // per-group distinct rides along for error documentation. -----
    Q("a_hll_by_group",
      (s, d) => {
        val docs = Tables.documents(s, d)
        graft.ops.Sketches
          .hllGroupedEstimate(docs, col("lang"), col("text"), 6)
          .withColumnRenamed("grp", "lang")
          .join(docs.groupBy("lang")
            .agg(countDistinct(col("text")).as("exact_distinct")), Seq("lang"))
          .orderBy("lang")
      },
      Some("""WITH h AS (SELECT lang,
             |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
             |  FROM documents),
             |r AS (SELECT lang, h % 64 AS register, h // 64 AS w FROM h),
             |rho AS (SELECT lang, register,
             |    CASE WHEN w = 0 THEN 55 ELSE 55 - length(bin(w)) END AS rho
             |  FROM r),
             |regs AS (SELECT lang, register, max(rho) AS max_rho
             |  FROM rho GROUP BY 1, 2),
             |agg AS (SELECT lang, count(*) AS present,
             |    sum(power(2.0, -max_rho)) AS ssum FROM regs GROUP BY 1),
             |est AS (SELECT lang, CAST(64 AS BIGINT) AS m,
             |    64 - present AS n_zero,
             |    0.709 * 64 * 64 / (ssum + (64 - present)) AS est_raw
             |  FROM agg),
             |ex AS (SELECT lang, count(DISTINCT text) AS exact_distinct
             |  FROM documents GROUP BY 1)
             |SELECT est.lang AS lang, m, n_zero,
             |  CASE WHEN est_raw <= 160.0 AND n_zero > 0
             |       THEN round(64.0 * ln(64.0 / n_zero), 4)
             |       ELSE round(est_raw, 4) END AS est,
             |  CASE WHEN est_raw <= 160.0 AND n_zero > 0
             |       THEN 'linear' ELSE 'hll' END AS method,
             |  ex.exact_distinct
             |FROM est JOIN ex ON est.lang = ex.lang
             |ORDER BY lang""".stripMargin)),

    // ----- frequency sketch: Count-Min (4×256 counters over the portable
    // hash). The sketch is fixed-size and sum-mergeable across shards —
    // frequency estimation with NO vocabulary-sized shuffle; estimates are
    // one-sided (≥ exact). The query sketches the full word stream, then
    // point-reads the 20 most frequent words next to their exact counts,
    // so both the build and the min-over-rows lookup are hash-pinned. -----
    Q("a_cms_freq",
      (s, d) => {
        import graft.ops.{Dedup, Sketches}
        val words = Tables.documents(s, d)
          .select(explode(Dedup.wordsArray("text")).as("w"))
        val sketch = Sketches.cmsSketch(words, col("w"), 4, 256)
        val top = words.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("w")).limit(20)
        Sketches.cmsLookup(sketch, top, "w", 4, 256)
          .select(col("w").as("word"), col("exact_cnt"), col("cms_est"))
          .orderBy(col("exact_cnt").desc, col("word"))
      },
      Some("""WITH wd AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
             |  FROM documents),
             |cnt AS (SELECT w, count(*) AS exact_cnt FROM wd GROUP BY 1),
             |top AS (SELECT w, exact_cnt FROM cnt
             |  ORDER BY exact_cnt DESC, w LIMIT 20),
             |pairs AS (SELECT wd.w, t.r,
             |    CAST(concat('0x', substr(md5(t.r || ':' || wd.w), 1, 15)) AS BIGINT) % 256 AS idx
             |  FROM wd, (SELECT unnest(range(0, 4)) AS r) t),
             |sk AS (SELECT r, idx, count(*) AS c FROM pairs GROUP BY 1, 2),
             |look AS (SELECT top.w, top.exact_cnt, t.r,
             |    CAST(concat('0x', substr(md5(t.r || ':' || top.w), 1, 15)) AS BIGINT) % 256 AS idx
             |  FROM top, (SELECT unnest(range(0, 4)) AS r) t)
             |SELECT l.w AS word, max(l.exact_cnt) AS exact_cnt,
             |  CAST(min(coalesce(sk.c, 0)) AS BIGINT) AS cms_est
             |FROM look l LEFT JOIN sk ON l.r = sk.r AND l.idx = sk.idx
             |GROUP BY 1 ORDER BY exact_cnt DESC, word""".stripMargin)),

    // ----- cardinality sketch: KMV (bottom-k). The k=32 smallest distinct
    // hashes; estimate (k−1)·2^60 / h_(k); exact when under k distinct.
    // TakeOrdered shape — merging shards = union bottom-k sets, re-take
    // bottom k. -----
    Q("a_kmv_distinct",
      (s, d) => graft.ops.Sketches.kmvEstimate(
        Tables.documents(s, d), col("text"), 32),
      Some("""WITH hs AS (SELECT DISTINCT
             |    CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS h
             |  FROM documents),
             |topk AS (SELECT h FROM hs ORDER BY h LIMIT 32),
             |agg AS (SELECT count(*) AS n_held, max(h) AS kth_hash FROM topk)
             |SELECT CAST(32 AS BIGINT) AS k, n_held, kth_hash,
             |  CASE WHEN n_held < 32 THEN CAST(n_held AS DOUBLE)
             |       ELSE round(31.0 * power(2.0, 60) / kth_hash, 4) END AS est
             |FROM agg""".stripMargin)),

    // ----- U2: except -----
    Q("u2_except",
      (s, d) => Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
        .except(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("k")))
        .orderBy("k"),
      Some("""SELECT * FROM (
             |  SELECT l_orderkey AS k FROM lineitem
             |  EXCEPT
             |  SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F')
             |ORDER BY k""".stripMargin)),

    // ----- U4: intersect -----
    Q("u4_intersect",
      (s, d) => Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k"))
        .intersect(Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey").as("k")))
        .orderBy("k"),
      Some("""SELECT * FROM (
             |  SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R'
             |  INTERSECT
             |  SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F')
             |ORDER BY k""".stripMargin)),

    // ----- CUBE: the full 2^k grouping lattice — completes the grouping
    // family next to rollup and explicit grouping sets (a cube is the
    // shape BI layers ask the lakehouse for; Spark expands it to one
    // Expand+aggregate, no k-pass scan) -----
    Q("a_cube_revenue",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_cube")
        s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
                |       coalesce(l_linestatus, 'ALL') AS status,
                |       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                |       count(*) AS n_items,
                |       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
                |FROM graft_li_cube
                |GROUP BY CUBE (l_returnflag, l_linestatus)
                |ORDER BY flag, status""".stripMargin)
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
             |       coalesce(l_linestatus, 'ALL') AS status,
             |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
             |       count(*) AS n_items,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY CUBE (l_returnflag, l_linestatus)
             |ORDER BY flag, status""".stripMargin)),

    // ----- GROUPING SETS with grouping_id (finer than rollup: the two
    // single-dimension marginals plus the grand total, no (flag,status)) -----
    Q("a_grouping_sets",
      (s, d) => {
        Tables.lineitem(s, d).createOrReplaceTempView("graft_li_gs")
        s.sql("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
                |       coalesce(l_linestatus, 'ALL') AS status,
                |       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                |       count(*) AS n_items,
                |       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
                |FROM graft_li_gs
                |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
                |ORDER BY flag, status""".stripMargin)
      },
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
             |       coalesce(l_linestatus, 'ALL') AS status,
             |       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
             |       count(*) AS n_items,
             |       CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
             |FROM lineitem
             |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
             |ORDER BY flag, status""".stripMargin)),

    // ----- U3/O5: distinct + deterministic order -----
    Q("u3_distinct",
      (s, d) => Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus").distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             |ORDER BY 1, 2""".stripMargin)),

    Q("o5_file_order",
      (s, d) => Tables.documents(s, d).select("source").distinct().orderBy("source"),
      Some("SELECT DISTINCT source FROM documents ORDER BY source")),

    // ----- events: hourly rollup (streaming-windowed agg, batch form) -----
    Q("e_hourly_rollup",
      (s, d) => Tables.events(s, d)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("sum_value"))
        .orderBy("hour", "event_type"),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS hour, event_type,
             |  count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      bench = true),

    // ----- skew mitigation: salted two-phase aggregation. A skewed hot key
    // (one event_type carrying most rows) would bottleneck a single reducer;
    // salting spreads the partial aggregate over 16 reducers and the final
    // merge handles 16 rows per key. Result is identical to the plain
    // groupBy — which is exactly what the oracle checks. -----
    Q("e_skew_salted_agg",
      (s, d) => {
        val salted = Tables.events(s, d)
          .withColumn("salt", pmod(col("event_id"), lit(16)))
          .groupBy("event_type", "salt")
          .agg(count(lit(1)).as("pc"),
            sum(col("value").cast(DecimalType(30, 8))).as("ps"))
        salted.groupBy("event_type")
          .agg(sum("pc").as("cnt"), sum("ps").cast("double").as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS cnt,
             |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- skew mitigation: salted shuffle join. event_type has FIVE
    // distinct values — joined plainly, five reducers do all the work no
    // matter how many the cluster has. ops.Skew.saltedJoin spreads each
    // key over 16 reducers by replicating the (tiny) per-type dim; the
    // result is identical to the plain join, which the oracle checks.
    // The comparison is value > per-type min — stored doubles compared
    // verbatim, no arithmetic whose rounding could diverge across engines.
    Q("j_skew_salted_join",
      (s, d) => {
        val ev = Tables.events(s, d)
        val dim = ev.groupBy("event_type").agg(min("value").as("type_min"))
        graft.ops.Skew.saltedJoin(ev, dim, "event_type", 16, col("event_id"))
          .filter(col("value") > col("type_min"))
          .groupBy("event_type").agg(count(lit(1)).as("above_min"))
          .orderBy("event_type")
      },
      Some("""WITH dim AS (SELECT event_type, min(value) AS type_min FROM events GROUP BY 1)
             |SELECT e.event_type, count(*) AS above_min
             |FROM events e JOIN dim USING (event_type)
             |WHERE e.value > dim.type_min
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- events: sessionization (lag + 30-min gap cut) -----
    Q("e_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .withColumn("prev", lag("ts", 1).over(w))
          .withColumn("new_s",
            when(col("prev").isNull ||
              col("ts").cast("double") - col("prev").cast("double") > 1800, 1).otherwise(0))
          .groupBy("user_id").agg(sum("new_s").as("sessions"))
          .orderBy("user_id")
      },
      Some("""WITH o AS (SELECT user_id, ts, event_id,
             |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events)
             |SELECT user_id, CAST(sum(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800
             |                              THEN 1 ELSE 0 END) AS BIGINT) AS sessions
             |FROM o GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- bucketed co-located fact⋈fact join: lineitem and orders are laid
    // out as bucketed tables on the join key (bucketBy + sortBy, one-time
    // layout cost the warm pass pays), so the join runs with ZERO Exchange
    // on either input — at 100 TB this is THE pattern for recurring joins
    // between two fact tables, where per-query shuffles of both sides are
    // the dominant cost and neither side can broadcast. hint("merge") pins
    // the strategy the optimizer would pick at scale (at bench sf the
    // orders side is small enough that AQE would broadcast it, which would
    // hide the co-location being demonstrated); the Exchange-free-below-
    // the-join property is pinned in PlanSpec. -----
    Q("q_bucketed_join",
      (s, d) => {
        val suffix = d.replaceAll("[^a-zA-Z0-9]", "_")
        val base = s"${System.getProperty("java.io.tmpdir")}/graft-bt-$suffix"
        val (ordersT, liT) = (s"graft_orders_b_$suffix", s"graft_lineitem_b_$suffix")
        if (!s.catalog.tableExists(ordersT)) {
          Tables.orders(s, d).write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"$base/orders").mode("overwrite").saveAsTable(ordersT)
          Tables.lineitem(s, d).write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"$base/lineitem").mode("overwrite").saveAsTable(liT)
        }
        s.table(liT)
          .join(s.table(ordersT).hint("merge"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"),
            dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n_items,
             |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(30,8))) AS DOUBLE) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // ----- weighted PageRank over the supplier→customer transaction graph
    // (ops/GraphRank): the iterative entity-importance pattern corpus
    // curation uses for domain/URL authority weighting. Three damped
    // iterations with dangling-mass redistribution, ALL nodes emitted
    // ordered by id (rank-ordered output would make ulp-close ranks an
    // oracle hazard); the oracle unrolls the exact same three iterations. -----
    // ----- triangle counting (co-supply graph): suppliers are linked when
    // they supply the same part; triangles = tightly-coupled supplier
    // cliques. The ORIENTED wedge join (every edge stored a < b, wedges
    // a<b<c closed by the third edge) counts each triangle exactly once
    // and is the standard bound on wedge explosion — no undirected
    // double-count, no cartesian. Per-node counts sum each closing role. -----
    Q("g_triangles",
      (s, d) => {
        val ps = Tables.lineitem(s, d)
          .filter(col("l_partkey") % 50 === 0)
          .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
          .distinct()
        val e = ps.as("x").join(ps.as("y"), Seq("p"))
          .filter(col("x.s") < col("y.s"))
          .select(col("x.s").as("a"), col("y.s").as("b"))
          .distinct()
        val tri = e.as("e1")
          .join(e.as("e2"), col("e1.b") === col("e2.a"))
          .join(e.as("e3"),
            col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
          .select(col("e1.a").as("a"), col("e1.b").as("b"), col("e2.b").as("c"))
        tri.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("n_triangles"))
          .orderBy(col("n_triangles").desc, col("node"))
          .limit(50)
      },
      Some("""WITH ps AS (SELECT DISTINCT l_partkey AS p, l_suppkey AS s
             |  FROM lineitem WHERE l_partkey % 50 = 0),
             |e AS (SELECT DISTINCT x.s AS a, y.s AS b
             |  FROM ps x JOIN ps y ON x.p = y.p AND x.s < y.s),
             |tri AS (SELECT e1.a, e1.b, e2.b AS c
             |  FROM e e1 JOIN e e2 ON e1.b = e2.a
             |  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |roles AS (SELECT a AS node FROM tri
             |  UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
             |SELECT node, count(*) AS n_triangles
             |FROM roles GROUP BY 1
             |ORDER BY n_triangles DESC, node LIMIT 50""".stripMargin)),

    Q("g_pagerank",
      (s, d) => {
        val edges = Tables.lineitem(s, d)
          .join(Tables.orders(s, d),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("l_suppkey").as("src"),
            (col("o_custkey") + 100000L).as("dst"))
          .agg(count(lit(1)).cast("double").as("weight"))
        graft.ops.GraphRank.pageRank(edges, iters = 3, damping = 0.85)
          .select(col("v"), (round(col("r"), 10) + 0.0).as("r"))
          .orderBy("v")
      },
      Some("""WITH e AS (SELECT l_suppkey AS src, 100000 + o_custkey AS dst,
             |    count(*)::DOUBLE AS w
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2),
             |nodes AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e
             |                                  UNION SELECT dst FROM e)),
             |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
             |ow AS (SELECT src, sum(w) AS w_out FROM e GROUP BY 1),
             |r0 AS (SELECT v, 1.0 / nn.n AS r FROM nodes, nn),
             |c1 AS (SELECT e.dst AS v, sum(r0.r * e.w / ow.w_out) AS contrib
             |       FROM e JOIN ow USING (src) JOIN r0 ON r0.v = e.src GROUP BY 1),
             |d1 AS (SELECT coalesce(sum(r), 0.0) AS dm FROM r0
             |       WHERE v NOT IN (SELECT src FROM ow)),
             |r1 AS (SELECT nodes.v,
             |         0.15/nn.n + 0.85 * (coalesce(c1.contrib, 0.0) + d1.dm/nn.n) AS r
             |       FROM nodes LEFT JOIN c1 ON c1.v = nodes.v, nn, d1),
             |c2 AS (SELECT e.dst AS v, sum(r1.r * e.w / ow.w_out) AS contrib
             |       FROM e JOIN ow USING (src) JOIN r1 ON r1.v = e.src GROUP BY 1),
             |d2 AS (SELECT coalesce(sum(r), 0.0) AS dm FROM r1
             |       WHERE v NOT IN (SELECT src FROM ow)),
             |r2 AS (SELECT nodes.v,
             |         0.15/nn.n + 0.85 * (coalesce(c2.contrib, 0.0) + d2.dm/nn.n) AS r
             |       FROM nodes LEFT JOIN c2 ON c2.v = nodes.v, nn, d2),
             |c3 AS (SELECT e.dst AS v, sum(r2.r * e.w / ow.w_out) AS contrib
             |       FROM e JOIN ow USING (src) JOIN r2 ON r2.v = e.src GROUP BY 1),
             |d3 AS (SELECT coalesce(sum(r), 0.0) AS dm FROM r2
             |       WHERE v NOT IN (SELECT src FROM ow)),
             |r3 AS (SELECT nodes.v,
             |         0.15/nn.n + 0.85 * (coalesce(c3.contrib, 0.0) + d3.dm/nn.n) AS r
             |       FROM nodes LEFT JOIN c3 ON c3.v = nodes.v, nn, d3)
             |SELECT v, round(r, 10) + 0.0 AS r FROM r3 ORDER BY v""".stripMargin)),

    // ----- Z-order clustered layout + stats-pruned multi-dim range read
    // (ops/ZOrder): the layout is built once per sf dir (cached in tmp),
    // then the read opens ONLY the files whose (user_id, value) stats
    // envelope intersects the predicate — the result is layout-invariant,
    // so the oracle is the plain filtered aggregate over the source table.
    // OpsSpec pins the pruning itself (z-order opens strictly fewer files
    // than a single-column-sorted layout for the same predicate). -----
    Q("q_zorder_read",
      (s, d) => {
        val suffix = d.replaceAll("[^a-zA-Z0-9]", "_")
        // dir name carries the layout generation (z3 = 3-dim key): a
        // cached layout is only ever reused by code expecting its exact
        // dims, never reinterpreted
        val out = s"${System.getProperty("java.io.tmpdir")}/graft-z3-$suffix"
        val done = new java.io.File(s"$out/_zstats/_SUCCESS")
        if (!done.exists())
          graft.ops.ZOrder.writeZOrdered(Tables.events(s, d), out,
            Seq("user_id", "value", "event_id"), bits = 6, numFiles = 32)
        graft.ops.ZOrder.read(s, out, Seq(
            graft.ops.ZOrder.ZRange("user_id", 40, 75),
            graft.ops.ZOrder.ZRange("value", 120.0, 260.0),
            graft.ops.ZOrder.ZRange("event_id", 0, 8000)))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
             |  CAST(sum(CAST(value AS DECIMAL(30,8))) AS DOUBLE) AS sum_value
             |FROM events
             |WHERE user_id BETWEEN 40 AND 75 AND value BETWEEN 120.0 AND 260.0
             |  AND event_id BETWEEN 0 AND 8000
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- IN-subquery on an aggregated HAVING (TPC-H Q18 shape): which
    // customers placed an order whose total quantity exceeds the threshold.
    // Catalyst rewrites the IN as a left-semi join against the aggregated
    // subquery — no correlated re-execution, one extra shuffle on the
    // already-grouped key. -----
    Q("q18_large_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d)
          .groupBy("l_orderkey").agg(dsum(col("l_quantity"), 2).as("sum_qty"))
          .filter(col("sum_qty") > 300)
        Tables.orders(s, d)
          .join(big, col("o_orderkey") === big("l_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
            col("o_totalprice"), col("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      },
      Some("""SELECT c_name, c_custkey, o_orderkey,
             |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice,
             |  CAST(sum(CAST(l_quantity AS DECIMAL(30,2))) AS DOUBLE) AS sum_qty
             |FROM customer JOIN orders ON c_custkey = o_custkey
             |JOIN lineitem ON o_orderkey = l_orderkey
             |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
             |  GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(30,2))) > 300)
             |GROUP BY 1, 2, 3, 4, 5
             |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin)),

    // ----- correlated-min subquery (TPC-H Q2 shape, adapted: no partsupp
    // table, so supply cost = a part's min unit price over its lineitems):
    // which suppliers sell each small part at its global best unit price.
    // The correlation decorrelates into one extra aggregate + equijoin on
    // l_partkey — both shuffles on the same key, so AQE coalesces them. -----
    Q("q2_min_cost_supplier",
      (s, d) => {
        val unit = Tables.lineitem(s, d)
          .groupBy("l_partkey", "l_suppkey")
          .agg((round(min(col("l_extendedprice") / col("l_quantity")), 6) + lit(0.0))
            .as("unit"))
        val best = unit.groupBy(col("l_partkey").as("bp"))
          .agg(min(col("unit")).as("best"))
        unit.join(best, col("l_partkey") === col("bp") && col("unit") === col("best"))
          .join(Tables.part(s, d).filter(col("p_size") <= 3),
            col("p_partkey") === col("l_partkey"))
          .join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
          .join(Tables.nation(s, d), col("n_nationkey") === col("s_nationkey"))
          .select(col("p_partkey"), col("p_name"), col("s_name"),
            col("n_name"), col("unit"))
          .orderBy("p_partkey", "s_name")
      },
      Some("""WITH cost AS (SELECT l_partkey, l_suppkey,
             |    round(min(l_extendedprice / l_quantity), 6) + 0.0 AS unit
             |  FROM lineitem GROUP BY 1, 2)
             |SELECT p_partkey, p_name, s_name, n_name, unit
             |FROM cost
             |JOIN part ON p_partkey = l_partkey
             |JOIN supplier ON s_suppkey = l_suppkey
             |JOIN nation ON n_nationkey = s_nationkey
             |WHERE p_size <= 3
             |  AND unit = (SELECT min(unit) FROM cost c2
             |              WHERE c2.l_partkey = cost.l_partkey)
             |ORDER BY p_partkey, s_name""".stripMargin)),

    // ----- EXISTS / NOT-EXISTS twin (TPC-H Q21 shape, adapted to the
    // available columns: "late" = shipped >90 days after the order date):
    // suppliers who were the SOLE late supplier on a multi-supplier order.
    // Both correlated existentials collapse into ONE per-(order, supplier)
    // aggregate reused twice — the order-level counts derive from it with a
    // second groupBy on the same key, so the whole decorrelated plan pays
    // two shuffles total, not four. -----
    Q("q21_sole_late_supplier",
      (s, d) => {
        val ls = Tables.lineitem(s, d)
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "l_suppkey")
          .agg(max(when(col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1).otherwise(0))
            .as("late"))
        val perOrder = ls.groupBy(col("l_orderkey").as("ok"))
          .agg(count(lit(1)).as("nsupp"), sum(col("late")).as("nlate"))
        val sole = ls
          .join(perOrder, col("l_orderkey") === col("ok") &&
            col("nsupp") > 1 && col("nlate") === 1 && col("late") === 1)
        sole.join(Tables.supplier(s, d), col("s_suppkey") === col("l_suppkey"))
          .groupBy("s_name").agg(count(lit(1)).as("numwait"))
          .orderBy(col("numwait").desc, col("s_name"))
      },
      Some("""WITH ls AS (SELECT l_orderkey, l_suppkey,
             |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
             |        THEN 1 ELSE 0 END) AS late
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |  GROUP BY 1, 2),
             |po AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS nsupp,
             |         sum(late) AS nlate
             |       FROM ls GROUP BY 1)
             |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
             |FROM ls JOIN po USING (l_orderkey)
             |JOIN supplier ON s_suppkey = l_suppkey
             |WHERE nsupp > 1 AND nlate = 1 AND late = 1
             |GROUP BY 1 ORDER BY numwait DESC, s_name""".stripMargin)),

    // ----- scalar subquery + anti-join (TPC-H Q22 shape): above-average-
    // balance customers with no RECENT order. The scalar average broadcasts
    // (one row); the NOT EXISTS becomes a left-anti join against the
    // filtered orders projection — no correlated probe per row. -----
    Q("q22_idle_customers",
      (s, d) => {
        val cust = Tables.customer(s, d)
        val avgBal = cust.agg(avg(col("c_acctbal")).as("ab"))
        val recent = Tables.orders(s, d)
          .filter(col("o_orderdate") >= to_timestamp(lit("2000-01-01")))
          .select(col("o_custkey"))
        cust.crossJoin(broadcast(avgBal))
          .filter(col("c_acctbal") > col("ab"))
          .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal
             |FROM customer
             |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
             |  AND NOT EXISTS (SELECT 1 FROM orders
             |    WHERE o_custkey = c_custkey
             |      AND o_orderdate >= TIMESTAMP '2000-01-01')
             |ORDER BY c_custkey""".stripMargin))
  )
}
