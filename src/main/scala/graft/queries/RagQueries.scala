package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.Tables
import graft.search.{Bm25, HybridSearch, VectorSearch}

/** Vector / FTS / hybrid-search operator queries (SURVEY §2.9, §3.1) over the
  * documents ⋈ embeddings tables (doc_id = vec_id; 64-dim float vectors).
  *
  * Oracle parity notes: dot products are summed in double on both sides;
  * emitted scores are rounded to 4 decimals with `+ 0.0` collapsing IEEE
  * -0.0; candidate selection happens on RAW scores with a total-order
  * tiebreak before rounding.
  */
object RagQueries {

  private val Dim = 64

  /** shared dot-score CTE: raw = 1 - <e, query(vec_id=0)> over joined docs */
  private val DotCte =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |s AS (SELECT e.vec_id AS doc_id, d.lang, d.source,
       |        1.0 - sum(e.embedding[t.i]::DOUBLE * q.qv[t.i]::DOUBLE) AS raw
       |      FROM embeddings e, documents d, q, generate_series(1, $Dim) t(i)
       |      WHERE d.doc_id = e.vec_id
       |      GROUP BY e.vec_id, d.lang, d.source)""".stripMargin

  private def chunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("source"), col("lang"), col("text"), col("embedding"))

  /** [[chunks]] keyed as `HybridSearch.search` reads them: `file` as
    * filePath, doc_id as chunkIndex, the embedding as vector */
  private def searchChunks(s: SparkSession, d: String, file: String): DataFrame =
    chunks(s, d).withColumn("filePath", col(file))
      .withColumn("chunkIndex", col("doc_id").cast("int"))
      .withColumnRenamed("embedding", "vector")

  private def qv(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"))

  private def rounded(c: String): org.apache.spark.sql.Column =
    round(col(c), 4) + 0.0

  /** BM25 oracle SQL over a toks CTE named `toks(doc_id, tok)`; emits bm(doc_id, bm25raw) */
  private def bm25Sql(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    s"""dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks WHERE tok IN ($inList) GROUP BY 1, 2),
       |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
       |wt AS (SELECT tf.doc_id,
       |        ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
       |        * (tf.tf * (1.2 + 1.0))
       |        / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (st.sum_dl * 1.0 / st.n_docs))) AS w
       |      FROM tf, dfq, dl, st WHERE tf.tok = dfq.tok AND tf.doc_id = dl.doc_id),
       |bm AS (SELECT doc_id, sum(w) AS bm25raw FROM wt GROUP BY 1)""".stripMargin
  }

  /** The hybrid queries' oracle after the candidate CTE c(doc_id, source,
    * raw): corpus-wide BM25 for "spark join", restricted to the candidates'
    * files, max-normalized boost, the top 10 by boosted score. */
  private lazy val HybridTailSql: String =
    s"""toks AS (SELECT d.doc_id, unnest(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS tok
       |         FROM documents d, embeddings e WHERE d.doc_id = e.vec_id),
       |${bm25Sql(Seq("spark", "join"))},
       |fts AS (SELECT bm.* FROM bm JOIN documents dd ON bm.doc_id = dd.doc_id
       |        WHERE dd.source IN (SELECT DISTINCT source FROM c)),
       |mx AS (SELECT max(bm25raw) AS mkw FROM fts),
       |fin AS (SELECT c.doc_id, c.raw,
       |          c.raw / (1.0 + coalesce(fts.bm25raw / mx.mkw, 0.0) * 0.6) AS boosted
       |        FROM c CROSS JOIN mx LEFT JOIN fts ON c.doc_id = fts.doc_id)
       |SELECT doc_id, round(raw, 4) + 0.0 AS score, round(boosted, 4) + 0.0 AS boosted
       |FROM fin ORDER BY boosted, doc_id LIMIT 10""".stripMargin


  val qs: Seq[Q] = Seq(

    // ----- S3/O1: brute-force ANN top-k by dot distance -----
    Q("v_ann_topk",
      (s, d) => {
        val c = chunks(s, d).crossJoin(broadcast(qv(s, d)))
        VectorSearch.topK(c, col("qv"), 20, vectorCol = "embedding",
          tiebreak = Seq("doc_id"))
          .select(col("doc_id"), rounded("score").as("score"))
      },
      Some(s"""$DotCte
              |SELECT doc_id, round(raw, 4) + 0.0 AS score FROM s
              |ORDER BY raw, doc_id LIMIT 20""".stripMargin),
      bench = true),

    // ----- P5: distance threshold pushed below the sort -----
    Q("v_ann_threshold",
      (s, d) => {
        val c = chunks(s, d).crossJoin(broadcast(qv(s, d)))
          .withColumn("score", VectorSearch.dotDistance(col("embedding"), col("qv")))
        c.filter(round(col("score"), 4) <= 0.7)
          .orderBy("score", "doc_id").limit(20)
          .select(col("doc_id"), rounded("score").as("score"))
      },
      Some(s"""$DotCte
              |SELECT doc_id, round(raw, 4) + 0.0 AS score FROM s
              |WHERE round(raw, 4) <= 0.7 ORDER BY raw, doc_id LIMIT 20""".stripMargin)),

    // ----- similarity join: top-3 neighbors for each of 5 query vectors -----
    Q("v_knn_join",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val q = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val w = Window.partitionBy("qid").orderBy("raw", "vec_id")
        e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("qid"))
          .withColumn("raw", VectorSearch.dotDistance(col("embedding"), col("qv")))
          .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 3)
          .select(col("qid"), col("vec_id").as("doc_id"),
            rounded("raw").as("score"), col("rnk"))
          .orderBy("qid", "rnk")
      },
      Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 5),
              |s AS (SELECT q.qid, e.vec_id,
              |        1.0 - sum(e.embedding[t.i]::DOUBLE * q.qv[t.i]::DOUBLE) AS raw
              |      FROM embeddings e, q, generate_series(1, $Dim) t(i)
              |      WHERE e.vec_id <> q.qid GROUP BY 1, 2),
              |r AS (SELECT qid, vec_id, raw,
              |        row_number() OVER (PARTITION BY qid ORDER BY raw, vec_id) AS rnk FROM s)
              |SELECT qid, vec_id AS doc_id, round(raw, 4) + 0.0 AS score, rnk
              |FROM r WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin)),

    // ----- W1/A6: relevance-gap grouping over the candidate set -----
    Q("v_grouping",
      (s, d) => {
        val c = chunks(s, d).crossJoin(broadcast(qv(s, d)))
        val cand = VectorSearch.topK(c, col("qv"), 20, vectorCol = "embedding",
          tiebreak = Seq("doc_id"))
        HybridSearch.applyGrouping(cand, "related", tiebreak = Seq("doc_id"),
          keepGroupCol = true)
          .select(col("doc_id"), rounded("score").as("score"), col("grp"))
          .orderBy("score", "doc_id")
      },
      Some(s"""$DotCte,
              |c AS (SELECT doc_id, raw FROM s ORDER BY raw, doc_id LIMIT 20),
              |g AS (SELECT doc_id, raw, lead(raw) OVER (ORDER BY raw, doc_id) - raw AS gap FROM c),
              |st AS (SELECT avg(gap) AS m, stddev_pop(gap) AS sd FROM g WHERE gap IS NOT NULL),
              |b AS (SELECT doc_id, raw, CASE WHEN gap > m + 1.5 * sd THEN 1 ELSE 0 END AS boundary
              |      FROM g, st),
              |k AS (SELECT doc_id, raw, coalesce(sum(boundary) OVER (ORDER BY raw, doc_id
              |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS grp FROM b)
              |SELECT doc_id, round(raw, 4) + 0.0 AS score, grp::BIGINT AS grp
              |FROM k WHERE grp < 2 ORDER BY raw, doc_id""".stripMargin)),

    // ----- S4/2.9: word-token BM25 (Lucene/Tantivy formula, k1=1.2 b=0.75) -----
    Q("q_bm25",
      (s, d) => Bm25.score(Tables.documents(s, d), Seq("doc_id"),
          Bm25.wordTokens(col("text")), Seq("spark", "join", "stream"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25")),
      Some(s"""WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
              |             FROM documents),
              |${bm25Sql(Seq("spark", "join", "stream"))}
              |SELECT doc_id, round(bm25raw, 4) AS bm25 FROM bm
              |ORDER BY bm25raw DESC, doc_id LIMIT 10""".stripMargin),
      bench = true),

    // ----- FTS ngram(2,3) BM25 — the reference's CJK-safe tokenizer -----
    Q("q_fts_ngram",
      (s, d) => Bm25.score(Tables.documents(s, d), Seq("doc_id"),
          Bm25.ngramTokens("text"), Seq("sp", "pa", "ar", "rk", "spa", "par", "ark"))
        .orderBy(col("bm25").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), round(col("bm25"), 4).as("bm25")),
      Some(s"""WITH toks AS (SELECT doc_id,
              |    unnest([substr(text, i, 2) for i in range(1, length(text))]
              |        || [substr(text, i, 3) for i in range(1, length(text) - 1)]) AS tok
              |  FROM documents),
              |${bm25Sql(Seq("sp", "pa", "ar", "rk", "spa", "par", "ark"))}
              |SELECT doc_id, round(bm25raw, 4) AS bm25 FROM bm
              |ORDER BY bm25raw DESC, doc_id LIMIT 10""".stripMargin)),

    // ----- retrieval quality as data for the FTS route: nDCG@10 of the
    // BM25 ranking against a closed-form graded relevance (rel = capped
    // query-term occurrence count, least(3, Σtf div 4); gain = 2^rel − 1 —
    // BM25's tf saturation and length normalization do NOT perfectly track
    // raw counts, so the metric discriminates) — the search-quality twin of
    // the ANN probes→recall family (v_recall_eval/.../v_recall_pq), so
    // ranking-quality evaluation is a hash-checked query, not an offline
    // notebook. Discount weights 1/log2(r+1) are 9dp literals IDENTICAL on
    // both engines (libm log2 never runs in the compared path); each DCG
    // term is rounded to a 1e-6 multiple before the sum, so the rounded
    // sums are exact; ranking is by 4dp-rounded BM25 with doc_id tiebreak
    // (the q_bm25 discipline). Three graded query sets; IDCG over the
    // corpus-wide ideal ordering (rel=0 docs contribute zero gain, so
    // restricting both engines to matched docs loses nothing). -----
    Q("q_ndcg_eval",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val sets = Seq(0 -> Seq("spark", "join", "stream"),
                       1 -> Seq("data", "query"),
                       2 -> Seq("window", "agg"))
        val disc = Seq(1.0, 0.630929754, 0.5, 0.430676558, 0.386852807,
          0.356207187, 0.333333333, 0.315464877, 0.301029996, 0.289064826)
        val scored = sets.map { case (qid, terms) =>
          Bm25.score(docs, Seq("doc_id"), Bm25.wordTokens(col("text")), terms)
            .select(lit(qid).as("query_id"), col("doc_id"),
              round(col("bm25"), 4).as("bm4"))
        }.reduce(_.unionByName(_))
        val rels = sets.map { case (qid, terms) =>
          val inList = terms.map(t => s"'$t'").mkString(", ")
          docs.select(lit(qid).as("query_id"), col("doc_id"),
            expr(s"""CAST(least(3, size(filter(regexp_extract_all(lower(text),
                    |'[a-z0-9]+', 0), t -> t IN ($inList))) div 4) AS INT)""".stripMargin
              .replace("\n", " ")).as("rel"))
        }.reduce(_.unionByName(_))
        def dcgOf(ranked: DataFrame, outCol: String): DataFrame = ranked
          .withColumn("gain", (expr("shiftleft(CAST(1 AS BIGINT), rel)") - 1).cast("double"))
          .withColumn("term", round(col("gain") * element_at(typedLit(disc), col("rnk")), 6))
          .groupBy("query_id").agg(round(sum("term"), 6).as(outCol))
        val wB = Window.partitionBy("query_id").orderBy(col("bm4").desc, col("doc_id"))
        val dcg = dcgOf(scored
          .withColumn("rnk", row_number().over(wB)).filter(col("rnk") <= 10)
          .join(rels, Seq("query_id", "doc_id")), "dcg")
        val wI = Window.partitionBy("query_id").orderBy(col("rel").desc, col("doc_id"))
        val idcg = dcgOf(rels
          .withColumn("rnk", row_number().over(wI)).filter(col("rnk") <= 10), "idcg")
        dcg.join(idcg, "query_id")
          .select(col("query_id"), (col("dcg") + 0.0).as("dcg"),
            (col("idcg") + 0.0).as("idcg"),
            (round(col("dcg") / col("idcg"), 4) + 0.0).as("ndcg_at_10"))
          .orderBy("query_id")
      },
      Some("""WITH toks AS (SELECT doc_id,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
             |  FROM documents),
             |qt(query_id, tok) AS (VALUES (0, 'spark'), (0, 'join'), (0, 'stream'),
             |  (1, 'data'), (1, 'query'), (2, 'window'), (2, 'agg')),
             |dw(rnk, w) AS (VALUES
             |  (1, 1.0::DOUBLE), (2, 0.630929754::DOUBLE), (3, 0.5::DOUBLE),
             |  (4, 0.430676558::DOUBLE), (5, 0.386852807::DOUBLE),
             |  (6, 0.356207187::DOUBLE), (7, 0.333333333::DOUBLE),
             |  (8, 0.315464877::DOUBLE), (9, 0.301029996::DOUBLE),
             |  (10, 0.289064826::DOUBLE)),
             |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
             |st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
             |tf AS (SELECT qt.query_id, toks.doc_id, toks.tok, count(*) AS tf
             |  FROM toks JOIN qt ON toks.tok = qt.tok GROUP BY 1, 2, 3),
             |dfq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
             |wt AS (SELECT tf.query_id, tf.doc_id,
             |    ln(1.0 + (st.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
             |    * (tf.tf * (1.2 + 1.0))
             |    / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / (st.sum_dl * 1.0 / st.n_docs))) AS w
             |  FROM tf, dfq, dl, st WHERE tf.tok = dfq.tok AND tf.doc_id = dl.doc_id),
             |bm AS (SELECT query_id, doc_id, round(sum(w), 4) AS bm4 FROM wt GROUP BY 1, 2),
             |rel AS (SELECT query_id, doc_id, least(3, sum(tf) // 4)::INT AS rel
             |  FROM tf GROUP BY 1, 2),
             |rnk AS (SELECT query_id, doc_id, rnk FROM (
             |    SELECT query_id, doc_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY bm4 DESC, doc_id) AS rnk
             |    FROM bm) WHERE rnk <= 10),
             |dcg AS (SELECT r.query_id,
             |    round(sum(round(((1::BIGINT << rel.rel) - 1) * dw.w, 6)), 6) AS dcg
             |  FROM rnk r
             |  JOIN rel ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
             |  JOIN dw ON dw.rnk = r.rnk GROUP BY 1),
             |irk AS (SELECT query_id, rel,
             |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rnk
             |  FROM rel),
             |idcg AS (SELECT query_id,
             |    round(sum(round(((1::BIGINT << rel) - 1) * dw.w, 6)), 6) AS idcg
             |  FROM irk JOIN dw ON dw.rnk = irk.rnk WHERE irk.rnk <= 10 GROUP BY 1)
             |SELECT d2.query_id, d2.dcg + 0.0 AS dcg, i2.idcg + 0.0 AS idcg,
             |  round(d2.dcg / i2.idcg, 4) + 0.0 AS ndcg_at_10
             |FROM dcg d2 JOIN idcg i2 USING (query_id) ORDER BY d2.query_id""".stripMargin)),

    // ----- §3.1 end-to-end: ANN 2k candidates → BM25 boost → re-rank → k -----
    Q("q_hybrid",
      (s, d) => {
        val ch = searchChunks(s, d, "source")
          .crossJoin(broadcast(qv(s, d)))
        HybridSearch.search(ch, col("qv"),
          HybridSearch.Params(limit = 10, weight = 0.6,
            queryTokens = Seq("spark", "join")))
          .select(col("doc_id"), rounded("score").as("score"),
            rounded("boosted").as("boosted"))
      },
      Some(s"""$DotCte,
              |c AS (SELECT doc_id, source, raw FROM s ORDER BY raw, source, doc_id LIMIT 20),
              |$HybridTailSql""".stripMargin),
      bench = true),

    // ----- §3.1 with the PERSISTED BM25 index: same pipeline and ORACLE as
    // q_hybrid, but keyword scores come from FtsIndexStore postings loaded
    // from disk instead of re-tokenizing the corpus per query — the
    // reference's production read shape (its FTS index lives in the store,
    // `src/server/index.ts:546-549`). Benched next to q_hybrid so the
    // index-vs-ad-hoc delta is measured, not asserted; identical scores are
    // additionally spec-gated (OpsSpec "indexed equals ad-hoc"). -----
    Q("q_hybrid_idx",
      (s, d) => {
        val ch = searchChunks(s, d, "source")
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft-fts-idx-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        val fts = new graft.store.FtsIndexStore(s, dir)
        // staleness probe for the cross-run tmp cache: embeddings count ==
        // chunk-table count (1:1 join by construction). The corpus count is
        // signature-memoized (SourceStamp) and FtsIndexStore.nDocs is a
        // manifest read: when nothing changed, the probe costs zero Spark
        // jobs
        val stale = fts.nDocs() != graft.core.SourceStamp.memoLong(
          s"$d/embeddings.parquet", "count")(Tables.embeddings(s, d).count())
        if (stale) fts.rebuild(ch)
        HybridSearch.search(ch.crossJoin(broadcast(qv(s, d))), col("qv"),
          HybridSearch.Params(limit = 10, weight = 0.6,
            queryTokens = Seq("spark", "join")),
          ftsIndex = fts.load())
          .select(col("doc_id"), rounded("score").as("score"),
            rounded("boosted").as("boosted"))
      },
      Some(s"""$DotCte,
              |c AS (SELECT doc_id, source, raw FROM s ORDER BY raw, source, doc_id LIMIT 20),
              |$HybridTailSql""".stripMargin),
      bench = true),

    // ----- §3.1 via the Engine's ANN route shape: persisted SRP probe
    // feeding the SAME hybrid pipeline (Engine.queryDocuments wires this
    // shape above annThreshold with its IVF index: probe → candidate join →
    // boost → re-rank → k). Benched end-to-end and hash-gated — the SRP
    // family is the oracle-replayable one, so the WHOLE routed path replays
    // in SQL. The probe's scan is partition-pruned to the query's abucket
    // (PlanSpec pins the pruning on the store; the index dir is shared with
    // ann_srp_store_probe so the bench builds it once). -----
    Q("q_hybrid_ann",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qArr = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ann-srp-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_") // shared with ann_srp_store_probe
        val st = new graft.store.SrpIndexStore(s, dir, dim = Dim, planes = 8,
          Seq("vec_id"), "embedding")
        // one staleness probe shared by both indexes, signature-memoized —
        // zero jobs when the embeddings dir is unchanged
        val nCorpus = graft.core.SourceStamp.memoLong(
          s"$d/embeddings.parquet", "count")(e.count())
        if (!st.exists || st.rowCount() != nCorpus) st.rebuild(e)
        val ch = searchChunks(s, d, "source")
        // candidate set = bucket-pruned probe top-(2·limit), its filePath
        // recovered by a broadcast join of the ≤ 20 probe rows onto the slim
        // (filePath, chunkIndex) projection. hammingRadius=1: the probe
        // reads the query's bucket plus its 8 Hamming-1 neighbor partitions,
        // ~9/256 of the index
        val cand = st.probe(qArr, k = 20, hammingRadius = 1)
          .select(col("vec_id").cast("int").as("chunkIndex"), col("score"))
        val annC = ch.select("filePath", "chunkIndex")
          .join(broadcast(cand), Seq("chunkIndex"))
          .select("filePath", "chunkIndex", "score")
        // BOTH persisted indexes, as the engine routes it: ANN candidates +
        // FTS postings (dir shared with q_hybrid_idx, built once per corpus)
        val ftsDir = s"${System.getProperty("java.io.tmpdir")}/graft-fts-idx-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        val fts = new graft.store.FtsIndexStore(s, ftsDir)
        val ftsStale = fts.nDocs() != nCorpus
        if (ftsStale) fts.rebuild(ch)
        HybridSearch.search(ch, typedLit(qArr.toSeq),
          HybridSearch.Params(limit = 10, weight = 0.6,
            queryTokens = Seq("spark", "join")),
          ftsIndex = fts.load(),
          annCandidates = Some(annC))
          .select(col("doc_id"), rounded("score").as("score"),
            rounded("boosted").as("boosted"))
      },
      Some(s"""WITH comp AS (SELECT p.p, j.j,
              |    CASE WHEN CAST(concat('0x', substr(md5(p.p || ':' || j.j), 1, 15)) AS BIGINT) % 2 = 0
              |         THEN 1.0 ELSE -1.0 END AS c
              |  FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, $Dim)) AS j) j),
              |dotp AS (SELECT e.vec_id, c.p, sum(e.embedding[c.j + 1]::DOUBLE * c.c) AS sv
              |  FROM embeddings e, comp c GROUP BY 1, 2),
              |buck AS (SELECT vec_id,
              |    sum(CASE WHEN sv > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
              |  FROM dotp GROUP BY 1),
              |qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
              |probeb AS (SELECT bucket AS pb FROM qb
              |           UNION ALL
              |           SELECT xor(qb.bucket, (1::BIGINT << p.p)) AS pb
              |           FROM qb, (SELECT unnest(range(0, 8)) AS p) p),
              |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
              |sc AS (SELECT e.vec_id AS doc_id, d.source,
              |    1.0 - sum(e.embedding[t.i]::DOUBLE * q.qv[t.i]::DOUBLE) AS raw
              |  FROM embeddings e, documents d, q, generate_series(1, $Dim) t(i)
              |  WHERE d.doc_id = e.vec_id
              |    AND e.vec_id IN (SELECT b.vec_id FROM buck b, probeb WHERE b.bucket = probeb.pb)
              |  GROUP BY 1, 2),
              |c AS (SELECT doc_id, source, raw FROM sc ORDER BY raw, doc_id LIMIT 20),
              |$HybridTailSql""".stripMargin),
      bench = true),

    // ----- W2/A4: per-file filter — keep chunks of the top-2 files -----
    Q("q_file_filter",
      (s, d) => {
        val ch = searchChunks(s, d, "lang")
          .crossJoin(broadcast(qv(s, d)))
        HybridSearch.search(ch, col("qv"),
          HybridSearch.Params(limit = 20, maxFiles = Some(2)))
          .select(col("doc_id"), col("lang"), rounded("score").as("score"))
      },
      Some(s"""$DotCte,
              |c AS (SELECT doc_id, lang, raw FROM s ORDER BY raw, lang, doc_id LIMIT 40),
              |best AS (SELECT lang, min(raw) AS b FROM c GROUP BY 1),
              |r AS (SELECT lang, dense_rank() OVER (ORDER BY b, lang) AS rk FROM best)
              |SELECT c.doc_id, c.lang, round(c.raw, 4) + 0.0 AS score
              |FROM c JOIN r USING (lang) WHERE r.rk <= 2
              |ORDER BY c.raw, c.lang, c.doc_id LIMIT 20""".stripMargin))
  )
}
