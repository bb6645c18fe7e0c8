package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Seam, Tables}
import graft.ops.{Dedup, Multimodal, Similarity}

/** Dedup / similarity-search / multimodal operator queries.
  *
  * The dedup corpus augments documents with exact duplicates (doc_id+100000
  * for doc_id%10=0) and near duplicates (appended words, doc_id+200000 for
  * doc_id%10=5) so the operators have real work to find.
  */
object DedupQueries {

  private[graft] def dupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    docs
      .union(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .union(docs.filter(col("doc_id") % 10 === 5)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" extra appended words")).as("text")))
  }

  /** The shingled dup corpus (doc_id, text, ws, shs) persisted
    * MEMORY_AND_DISK, plus its minhash-signature projection (16 hashes,
    * 4×4 banding downstream) — the shared prefix of every LSH-verify query
    * below, factored once so the six consumers can never drift. The
    * persist is the in-session twin of a stored shingle table (the corpus
    * feeds the signature projection AND the verify side(s), so the shingle
    * UDF runs once) with a HARNESS-SCOPE release contract: these builders
    * run one query at a time under Verify/Bench, and Verify runs
    * GraftSession.releaseAllBlocks after each — no per-query handle
    * needed. The LIBRARY surface for the same capability is ops/Dedup +
    * ops/CleanCorpus, whose caches belong to the caller's seam.
    * `filterEmpty` drops docs with no 5-shingle before caching
    * (d_lsh_recall_eval evaluates recall over shingled docs only — its
    * posting ground truth reads the corpus side directly). */
  private def shingledDupCorpus(s: SparkSession, d: String,
                                filterEmpty: Boolean = false): (DataFrame, DataFrame) = {
    val sh = dupCorpus(s, d)
      .withColumn("ws", Dedup.wordsArray("text"))
      .withColumn("shs", Dedup.wordShingles("ws", 5))
    val corpus = Seam.session.persist(
      if (filterEmpty) sh.filter(size(col("shs")) > 0) else sh)
    val withSig = corpus.filter(size(col("shs")) > 0)
      .withColumn("hs", Dedup.shingleBaseHashes("shs"))
      .withColumn("sig", Dedup.minhashSignature("hs", 16))
    (corpus, withSig)
  }

  private val DupCorpusCte =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' extra appended words' FROM documents
      |  WHERE doc_id % 10 = 5)""".stripMargin

  /** shared by d_span_dedup AND its suffix-array twin d_span_dedup_sa —
    * one oracle, two independent Spark routes */
  private lazy val SpanDedupOracle =
    s"""WITH $DupCorpusCte,
       |d2 AS (SELECT doc_id,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM corpus),
       |g AS (SELECT doc_id, t.i - 1 AS p,
       |    array_to_string(ws[t.i:t.i+4], ' ') AS g
       |  FROM d2, unnest(range(1, greatest(len(ws) - 3, 1))) t(i)),
       |dup AS (SELECT g FROM g GROUP BY 1 HAVING count(*) > 1),
       |cov AS (SELECT DISTINCT doc_id, p + o.o AS q
       |  FROM g JOIN dup USING (g), unnest(range(0, 5)) o(o)),
       |w AS (SELECT doc_id, t.i - 1 AS q, ws[t.i] AS w
       |  FROM d2, unnest(range(1, len(ws) + 1)) t(i)),
       |kept AS (SELECT w.doc_id, w.q, w.w FROM w
       |  LEFT JOIN cov ON cov.doc_id = w.doc_id AND cov.q = w.q
       |  WHERE cov.doc_id IS NULL),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    md5(string_agg(w, ' ' ORDER BY q)) AS cleaned_md5
       |  FROM kept GROUP BY 1),
       |base AS (SELECT doc_id,
       |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
       |  FROM corpus)
       |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words,
       |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(b.n - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
       |  coalesce(a.cleaned_md5, md5('')) AS cleaned_md5
       |FROM base b LEFT JOIN agg a USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin

  /** shared shingle CTE over the dup corpus (word 3-shingles, distinct) */
  private val ShinglesCte =
    s"""$DupCorpusCte,
       |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM corpus),
       |sh AS (SELECT doc_id,
       |         CASE WHEN len(ws) >= 5
       |           THEN list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)])
       |           ELSE [] END AS shs
       |       FROM w)""".stripMargin

  /** per-vector affine int8 quantization (vector compression for storage/
    * ANN): q[j] = round((v[j]-min)/(max-min)·255) - 128; constant vectors
    * quantize to 0. Single-pass UDF (a transform() lambda would re-evaluate
    * the inlined array_min/max per element — the Catalyst lambda gotcha),
    * double arithmetic over float inputs matching the oracle exactly. */
  private def quantizeInt8: org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val f = udf { (v: Seq[Float]) =>
      if (v == null || v.isEmpty) Array.empty[Int]
      else {
        val mn = v.min.toDouble
        val mx = v.max.toDouble
        if (mx == mn) Array.fill(v.size)(0)
        else v.map(x => (math.floor((x.toDouble - mn) / (mx - mn) * 255.0 + 0.5) - 128.0).toInt).toArray
      }
    }
    f(_)
  }

  /** SRP bucket-probe top-k oracle (shared by the inline `ann_lsh_topk` and
    * the persisted `ann_srp_store_probe` — the two must return the SAME
    * rows: the index only changes where the bucket scan reads from). */
  private val SrpTopkOracle =
    """WITH comp AS (SELECT p.p, j.j,
      |    CASE WHEN CAST(concat('0x', substr(md5(p.p || ':' || j.j), 1, 15)) AS BIGINT) % 2 = 0
      |         THEN 1.0 ELSE -1.0 END AS c
      |  FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, 64)) AS j) j),
      |dotp AS (SELECT e.vec_id, c.p, sum(e.embedding[c.j + 1]::DOUBLE * c.c) AS sv
      |  FROM embeddings e, comp c GROUP BY 1, 2),
      |buck AS (SELECT vec_id,
      |    sum(CASE WHEN sv > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
      |  FROM dotp GROUP BY 1),
      |qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
      |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      |cand AS (SELECT b.vec_id FROM buck b, qb WHERE b.bucket = qb.bucket),
      |sc AS (SELECT e.vec_id,
      |    1.0 - sum(e.embedding[t.i]::DOUBLE * q.qv[t.i]::DOUBLE) AS raw
      |  FROM embeddings e, q, generate_series(1, 64) t(i)
      |  WHERE e.vec_id IN (SELECT vec_id FROM cand)
      |  GROUP BY e.vec_id)
      |SELECT vec_id, round(raw, 4) + 0.0 AS score FROM sc
      |ORDER BY raw, vec_id LIMIT 10""".stripMargin

  /** oracle CTE chain of the cleaning pipeline through kept4 — shared by
    * d_corpus_pipeline and d_train_manifest */
  private val CleaningCtes =
    s"""$DupCorpusCte,
    |g AS (SELECT doc_id, text,
    |    len(regexp_extract_all(text, '\\S+')) AS n_words,
    |    len(regexp_extract_all(text, '#'))
    |      + len(regexp_extract_all(text, '\\.\\.\\.')) AS n_sym,
    |    len(str_split(text, chr(10))) AS n_lines,
    |    len(regexp_extract_all(text, '(?m)^\\s*[-*•]')) AS n_bullet,
    |    len(regexp_extract_all(text, '(?m)(\\.\\.\\.|…)$$')) AS n_ellip
    |  FROM corpus),
    |kept1 AS (SELECT doc_id, text FROM g
    |  WHERE (n_words BETWEEN 20 AND 100000)
    |    AND round(n_sym * 1.0 / greatest(n_words, 1), 4) < 0.1
    |    AND round(n_bullet * 1.0 / greatest(n_lines, 1), 4) <= 0.9
    |    AND round(n_ellip * 1.0 / greatest(n_lines, 1), 4) <= 0.3),
    |canon AS (SELECT min(doc_id) AS doc_id
    |  FROM kept1
    |  GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))),
    |kept2 AS (SELECT k.doc_id, k.text FROM kept1 k
    |  JOIN canon c ON c.doc_id = k.doc_id),
    |w2 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
    |       FROM kept2),
    |sh2 AS (SELECT doc_id,
    |    CASE WHEN len(ws) >= 5
    |      THEN list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)])
    |      ELSE [] END AS shs
    |  FROM w2),
    |hs AS (SELECT doc_id,
    |    list_transform(shs, s ->
    |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
    |  FROM sh2 WHERE len(shs) > 0),
    |sig AS (SELECT doc_id,
    |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
    |     for i in range(0, 16)] AS sig
    |  FROM hs),
    |bands AS (SELECT doc_id, t.b,
    |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
    |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
    |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
    |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    |  FROM bands a JOIN bands b
    |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
    |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh2),
    |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh2),
    |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
    |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
    |          GROUP BY 1, 2),
    |dropped AS (SELECT DISTINCT i.id_b AS doc_id
    |  FROM inter i
    |  JOIN sizes sa ON sa.doc_id = i.id_a
    |  JOIN sizes sb ON sb.doc_id = i.id_b
    |  JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
    |  WHERE round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 4) >= 0.8),
    |kept3 AS (SELECT doc_id FROM kept2
    |  WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
    |wb AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
    |       FROM corpus WHERE doc_id % 97 = 0),
    |benchsh AS (SELECT DISTINCT unnest(CASE WHEN len(ws) >= 5
    |    THEN list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)])
    |    ELSE [] END) AS sh
    |  FROM wb),
    |contaminated AS (SELECT DISTINCT p.doc_id
    |  FROM posts p
    |  JOIN kept3 k ON k.doc_id = p.doc_id
    |  JOIN benchsh b ON b.sh = p.s
    |  WHERE p.doc_id % 97 <> 0),
    |kept4 AS (SELECT doc_id FROM kept3
    |  WHERE doc_id % 97 <> 0
    |    AND doc_id NOT IN (SELECT doc_id FROM contaminated))""".stripMargin

  /** Shared cleaning pipeline (quality rules → exact dedup → verified
    * near-dup drop → decontamination): d_corpus_pipeline reports its
    * retention funnel, d_train_manifest lays out its survivors — ONE
    * builder so the two can never drift. Since r15 the builder IS the
    * library op ([[graft.ops.CleanCorpus]]); its caches go to
    * [[Seam.session]], which Verify/Bench free with releaseAllBlocks after
    * each query. The holdout is
    * RAW-corpus docs with doc_id % 97 == 0 (the benchmark set exists
    * independently of what cleaning kept); thresholds/banding are the
    * op's defaults, which the oracle CTEs mirror. */
  private def cleaningStages(s: SparkSession, d: String): graft.ops.CleanCorpusStages =
    graft.ops.CleanCorpus.cleanCorpus(Seam.session, dupCorpus(s, d), "doc_id", "text",
      isHoldout = Some(col("doc_id") % 97 === 0),
      droppedBuckets = Some(s.sparkContext.longAccumulator(
        "graft.lsh.dropped_hot_buckets.cleaning_pipeline")))

  val qs: Seq[Q] = Seq(

    // ----- int8 vector quantization over the embeddings table -----
    Q("v_quantize_int8",
      (s, d) => Tables.embeddings(s, d)
        .select(col("vec_id"), quantizeInt8(col("embedding")).as("q"))
        .select(col("vec_id"),
          element_at(col("q"), 1).as("q_first"),
          expr("md5(array_join(transform(q, x -> cast(x AS STRING)), ','))").as("q_checksum"))
        .orderBy("vec_id"),
      Some("""WITH s AS (SELECT vec_id,
             |    CAST(list_min(embedding) AS DOUBLE) AS mn,
             |    CAST(list_max(embedding) AS DOUBLE) AS mx,
             |    embedding
             |  FROM embeddings),
             |q AS (SELECT vec_id,
             |    CASE WHEN mx = mn THEN [CAST(0 AS INT) for x in embedding]
             |         ELSE [CAST(floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 255.0 + 0.5) - 128 AS INT)
             |               for x in embedding] END AS q
             |  FROM s)
             |SELECT vec_id, q[1] AS q_first,
             |       md5(array_to_string(q, ',')) AS q_checksum
             |FROM q ORDER BY vec_id""".stripMargin)),

    // ----- exact dedup: hash-groupBy on normalized fingerprints -----
    Q("d_exact_dup",
      (s, d) => Dedup.exactDupGroups(dupCorpus(s, d), "doc_id", "text")
        .orderBy("fp"),
      Some(s"""WITH $DupCorpusCte
              |SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
              |       min(doc_id) AS canonical_id, count(*) AS n_docs
              |FROM corpus GROUP BY 1 ORDER BY 1""".stripMargin),
      bench = true),

    // ----- streaming exact dedup, oracle-matched: the dup corpus replayed
    // as a REAL multi-batch stream (4 event-time-ordered staged files, one
    // per trigger) through dropDuplicatesWithinWatermark — fingerprint
    // state crosses micro-batch boundaries and drops the +100000 exact
    // copies that arrive batches after their originals. The oracle is the
    // batch twin: one row per distinct fingerprint. State expiry semantics
    // (bounded state, re-admission past the window) are StreamingSpec-gated;
    // here the delay exceeds the corpus's synthetic span so streaming and
    // batch dedup agree exactly. -----
    Q("e_stream_dedup",
      (s, d) => graft.streaming.StreamingIngest
        .exactDedupAvailableNow(s, dupCorpus(s, d))._1
        .orderBy("fp"),
      Some(s"""WITH $DupCorpusCte
              |SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
              |       length(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_len
              |FROM corpus ORDER BY fp""".stripMargin)),

    // ----- streaming HLL distinct: the register table maintained as a
    // streaming groupBy-max over micro-batches — bounded 64-row state for
    // an unbounded stream. max is commutative, so the final streaming
    // sketch equals the batch sketch bit-for-bit; the oracle replays the
    // batch register layout in SQL and hash-checks the stream's estimate
    // row. -----
    Q("e_stream_hll",
      (s, d) => graft.streaming.StreamingIngest
        .hllAvailableNow(s, Tables.documents(s, d), 6)._1,
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
             |       THEN 'linear' ELSE 'hll' END AS method
             |FROM est""".stripMargin)),

    // ----- streaming Count-Min: the counter grid maintained as a
    // streaming groupBy-sum — bounded 4×256 state for an unbounded word
    // stream; sum's commutativity makes the final snapshot equal the
    // batch sketch exactly, so the batch oracle (build + min-over-rows
    // lookup vs exact top-20) hash-checks the streaming run. -----
    Q("e_stream_cms",
      (s, d) => {
        import graft.ops.{Dedup, Sketches}
        val snapshot = graft.streaming.StreamingIngest
          .cmsAvailableNow(s, Tables.documents(s, d))._1
        val words = Tables.documents(s, d)
          .select(explode(Dedup.wordsArray("text")).as("w"))
        val top = words.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
          .orderBy(col("exact_cnt").desc, col("w")).limit(20)
        Sketches.cmsLookup(snapshot, top, "w", 4, 256)
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

    // ----- n-gram Jaccard near-dup pairs (shingle posting join).
    // CORRECTNESS BASELINE ONLY — the posting self-join is quadratic in
    // per-shingle posting length, so it stays oracle-gated but UNBENCHED;
    // the headline workload is d_jaccard_pairs_lsh below (same output
    // contract, LSH-bounded work). -----
    Q("d_jaccard_pairs",
      (s, d) => {
        val withSh = dupCorpus(s, d)
          .withColumn("ws", Dedup.wordsArray("text"))
          .withColumn("shs", Dedup.wordShingles("ws", 5))
        Dedup.jaccardPairs(Seam.session, withSh, "doc_id", "shs", threshold = 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $ShinglesCte,
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |j AS (SELECT id_a, id_b,
              |        round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
              |      FROM inter
              |      JOIN sizes sa ON sa.doc_id = id_a
              |      JOIN sizes sb ON sb.doc_id = id_b)
              |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // ----- cross-document duplicate k-gram coverage (ops/Dedup
    // .dupGramCoverage): the per-doc exact-substring-dedup signal — what
    // fraction of a doc's distinct 5-grams appear in some OTHER doc. The
    // planted +100000 exact copies score 1.0, the +200000 near-dups just
    // below, originals without a copy near 0. Gram-keyed shuffles only;
    // no pair join. -----
    Q("d_gram_coverage",
      (s, d) => {
        val withSh = dupCorpus(s, d)
          .withColumn("ws", Dedup.wordsArray("text"))
          .withColumn("shs", Dedup.wordShingleHashes("ws", 5))
        Dedup.dupGramCoverage(Seam.session, withSh, "doc_id", "shs")
          .orderBy("doc_id")
      },
      Some(s"""WITH $ShinglesCte,
              |gd AS (SELECT doc_id, unnest(shs) AS g FROM sh),
              |nd AS (SELECT g, count(*) AS n_docs FROM gd GROUP BY 1),
              |cov AS (SELECT doc_id,
              |    round(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) * 1.0
              |      / count(*), 4) + 0.0 AS dup_gram_frac,
              |    CAST(count(*) AS BIGINT) AS n_grams
              |  FROM gd JOIN nd USING (g) GROUP BY 1)
              |SELECT c.doc_id, coalesce(cov.dup_gram_frac, 0.0) AS dup_gram_frac,
              |       CAST(coalesce(cov.n_grams, 0) AS BIGINT) AS n_grams
              |FROM corpus c LEFT JOIN cov USING (doc_id)
              |ORDER BY c.doc_id""".stripMargin),
      bench = true),

    // ----- exact-substring SPAN dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better"): every word position
    // covered by a 5-gram that occurs MORE THAN ONCE corpus-wide is cut,
    // and the surviving words REASSEMBLE the cleaned document (not just a
    // coverage fraction — the md5 of the reconstruction is oracle-pinned
    // per doc). Scale shape (r14 rebuild, plan notes on the op): ONE
    // positional-gram-keyed exchange, doc-local start-position sets, a
    // doc-keyed shuffle-hash join — never a pair join. -----
    Q("d_span_dedup",
      (s, d) => {
        // library op: ops/Dedup.spanDedup (Lee-2022 exact-substring span
        // cut with the r14 doc-local reconstruction — plan notes and the
        // 100x adversarial rows live on the op; the suffix-array twin
        // d_span_dedup_sa cross-validates the same oracle through an
        // exact string-comparison route). Seam.session blocks are
        // released post-query by the Verify/Bench harnesses.
        Dedup.spanDedup(Seam.session, dupCorpus(s, d), "doc_id", "text", 5)
          .select(col("doc_id"), col("n_words"), col("n_kept"),
            col("n_removed"), md5(col("cleaned")).as("cleaned_md5"))
          .orderBy("doc_id")
      },
      Some(SpanDedupOracle),
      bench = true),

    // ----- the SAME span dedup through the TOKEN SUFFIX ARRAY instead of
    // gram joins — a cross-validated twin: equal k-prefixes cluster
    // contiguously in suffix order, so "this position's 5-gram occurs
    // more than once corpus-wide" ≡ "its 5-token prefix equals a
    // rank-ADJACENT suffix's" (prev or next). One adjacent compare per
    // position replaces the gram groupBy + semi-join; the shuffled
    // payload is (rank, 5 tokens) instead of every 5-token gram string
    // through a count aggregate. Both routes hash against the SAME
    // oracle, so either regressing breaks the driver's compare. -----
    Q("d_span_dedup_sa",
      (s, d) => {
        val k = 5
        val docs = dupCorpus(s, d)
        val sa = graft.ops.SuffixArray.buildTokens(docs, "doc_id", "text")
        val words = docs.select(col("doc_id").cast("long").as("doc_id"),
            Dedup.wordsArray("text").as("ws"))
          .select(col("doc_id"), col("ws"), size(col("ws")).as("n"))
        val pfx = words.join(sa, "doc_id")
          .select(col("doc_id"), col("pos").cast("int").as("pos"),
            col("rank"),
            expr(s"slice(ws, cast(pos as int) + 1, $k)").as("pfx"),
            (col("n") - col("pos") >= k).as("full"))
        val nb = pfx.select(col("rank"), col("pfx"))
        val prv = nb.select((col("rank") + 1).as("rank"),
          col("pfx").as("pfx_prev"))
        val nxt = nb.select((col("rank") - 1).as("rank"),
          col("pfx").as("pfx_next"))
        val dupStart = pfx
          .join(prv, Seq("rank"), "left")
          .join(nxt, Seq("rank"), "left")
          .filter(col("full") &&
            (coalesce(col("pfx") === col("pfx_prev"), lit(false)) ||
             coalesce(col("pfx") === col("pfx_next"), lit(false))))
          .select(col("doc_id"), col("pos"))
        val covered = dupStart.select(col("doc_id"),
          explode(expr(s"sequence(pos, pos + ${k - 1})")).as("q"))
        val pws = words
          .select(col("doc_id"), posexplode(col("ws")).as(Seq("q", "w")))
        val cleaned = pws.join(covered, Seq("doc_id", "q"), "left_anti")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_kept"),
            expr("md5(array_join(transform(array_sort(" +
              "collect_list(struct(q, w))), x -> x.w), ' '))").as("cleaned_md5"))
        words.select(col("doc_id"), col("n"))
          .join(cleaned, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n").cast("long").as("n_words"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            (col("n") - coalesce(col("n_kept"), lit(0L))).cast("long")
              .as("n_removed"),
            coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
          .orderBy("doc_id")
      },
      Some(SpanDedupOracle)),

    // ----- content-defined chunk dedup (rsync/FastCDC shape): documents
    // split at content-derived boundaries (Dedup.cdcChunks — boundaries
    // survive edits elsewhere, unlike fixed blocks), chunk contents
    // hashed, and each doc reports how much of it is byte-shared with
    // OTHER docs. On the planted-dup corpus the verbatim twins share
    // every chunk and the "extra appended words" variants share every
    // chunk up to the edit — exactly the partial-overlap signal
    // chunk-level dedup exists to expose. Oracle replays the boundary
    // rule, the spans, and the sharing census in SQL. -----
    Q("d_cdc_chunks",
      (s, d) => {
        val chunker = udf((t: String) => Dedup.cdcChunks(t))
        val ch = dupCorpus(s, d)
          .select(col("doc_id"), explode(chunker(col("text"))).as("chunk"))
        val freq = ch.groupBy("chunk")
          .agg(countDistinct(col("doc_id")).as("nd"))
        ch.join(freq, "chunk")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_chunks"),
            sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"),
            (round(sum(when(col("nd") > 1, length(col("chunk")))
                .otherwise(lit(0))).cast("double") /
              sum(length(col("chunk"))), 4) + 0.0).as("shared_byte_frac"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $DupCorpusCte,
              |d2 AS (SELECT doc_id, text, length(text) AS n FROM corpus),
              |bpos AS (SELECT doc_id, t.i AS i FROM d2,
              |    unnest(range(8, n + 1)) t(i)
              |  WHERE substr(md5(substr(text, CAST(t.i AS INT) - 7, 8)), 1, 1) = '0'),
              |aug AS (SELECT doc_id, i,
              |    coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i), 0) AS p
              |  FROM bpos),
              |chunks1 AS (SELECT a.doc_id,
              |    substr(d.text, CAST(a.p AS INT) + 1, CAST(a.i - a.p AS INT)) AS chunk
              |  FROM aug a JOIN d2 d USING (doc_id)),
              |lastc AS (SELECT d.doc_id,
              |    substr(d.text, CAST(coalesce(m.mx, 0) AS INT) + 1) AS chunk
              |  FROM d2 d LEFT JOIN
              |    (SELECT doc_id, max(i) AS mx FROM bpos GROUP BY 1) m USING (doc_id)
              |  WHERE coalesce(m.mx, 0) < d.n),
              |ch AS (SELECT * FROM chunks1 UNION ALL SELECT * FROM lastc),
              |freq AS (SELECT chunk, count(DISTINCT doc_id) AS nd
              |  FROM ch GROUP BY 1)
              |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
              |  CAST(sum(CASE WHEN f.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
              |  round(CAST(sum(CASE WHEN f.nd > 1 THEN length(c.chunk) ELSE 0 END) AS DOUBLE)
              |    / sum(length(c.chunk)), 4) AS shared_byte_frac
              |FROM ch c JOIN freq f USING (chunk)
              |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- n-gram Jaccard pairs via LSH blocking (the 100 TB shape and the
    // BENCHED headline): banded MinHash candidates, exact Jaccard verified
    // per-pair with array_intersect — work is O(candidates), never
    // O(posting²). Pairs whose signatures agree on no band are not
    // candidates (documented LSH recall), so the threshold is re-checked
    // exactly on the candidate set. -----
    Q("d_jaccard_pairs_lsh",
      (s, d) => {
        val (corpus, withSig) = shingledDupCorpus(s, d)
        val candidates = Dedup.lshCandidatePairs(
          Dedup.lshBands(withSig, "doc_id", "sig", 4, 4), "doc_id")
        Dedup.jaccardOnPairs(Seam.session, candidates, corpus, "doc_id", "shs")
          .filter(col("jaccard") >= 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |j AS (SELECT i.id_a, i.id_b,
              |        round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 4) AS jaccard
              |      FROM inter i
              |      JOIN sizes sa ON sa.doc_id = i.id_a
              |      JOIN sizes sb ON sb.doc_id = i.id_b
              |      JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b)
              |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
              |ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // ----- near-dup verification by EDIT similarity (the MassiveText /
    // Gopher verify flavor): same banded-LSH candidate generation, but the
    // exact check is levenshtein over the raw texts — 1 − dist/max(len),
    // keep ≥ 0.8. Jaccard-on-shingles (above) misses reorderings that edit
    // distance catches and vice versa; a production pipeline picks per
    // corpus, so both verifiers are first-class here. Cost shape: the
    // O(len²) DP runs ONLY on candidate pairs (≪ all pairs), joined via
    // the size-routed pair join — never a text self-join — and two
    // semantics-preserving shortcuts keep the DP off pairs that don't
    // need it (the measured 100× bottleneck is pure DP compute):
    //  - LENGTH-GAP prune: lev ≥ |len_a − len_b|, so sim ≤
    //    round(1 − gap/max, 4); if even that bound is < 0.8 the pair
    //    cannot pass — dropped BEFORE the DP, with the exact rounding
    //    rule of the final filter, so no borderline pair is lost;
    //  - EQUAL-TEXT shortcut: lev(t, t) = 0 by definition — an O(len)
    //    comparison replaces the O(len²) DP for exact twins, the
    //    DOMINANT candidate class of a duplicate-heavy crawl. -----
    Q("d_edit_verify",
      (s, d) => {
        val corpus = dupCorpus(s, d)
          .withColumn("ws", Dedup.wordsArray("text"))
          .withColumn("shs", Dedup.wordShingles("ws", 5))
        val withSig = corpus.filter(size(col("shs")) > 0)
          .withColumn("hs", Dedup.shingleBaseHashes("shs"))
          .withColumn("sig", Dedup.minhashSignature("hs", 16))
        val candidates = Dedup.lshCandidatePairs(
          Dedup.lshBands(withSig, "doc_id", "sig", 4, 4), "doc_id")
        val l = corpus.select(col("doc_id").cast("long").as("id_a"), col("text").as("ta"))
        val r = corpus.select(col("doc_id").cast("long").as("id_b"), col("text").as("tb"))
        Dedup.routedPairJoin(Seam.session, candidates, l, r)
          .filter(round(lit(1.0) -
            abs(length(col("ta")) - length(col("tb"))).cast("double") /
            greatest(length(col("ta")), length(col("tb"))), 4) >= 0.8)
          .withColumn("lev", when(col("ta") === col("tb"), lit(0L))
            .otherwise(levenshtein(col("ta"), col("tb")).cast("long")))
          .withColumn("sim", round(lit(1.0) - col("lev").cast("double") /
            greatest(length(col("ta")), length(col("tb"))), 4))
          .filter(col("sim") >= 0.8)
          .select("id_a", "id_b", "lev", "sim")
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |v AS (SELECT c.id_a, c.id_b,
              |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS lev,
              |    round(1.0 - CAST(levenshtein(ta.text, tb.text) AS DOUBLE)
              |      / greatest(length(ta.text), length(tb.text)), 4) AS sim
              |  FROM cand c
              |  JOIN corpus ta ON ta.doc_id = c.id_a
              |  JOIN corpus tb ON tb.doc_id = c.id_b)
              |SELECT id_a, id_b, lev, sim FROM v WHERE sim >= 0.8
              |ORDER BY id_a, id_b""".stripMargin)),

    // ----- STREAMING incremental near-dup dedup, oracle-matched e2e: the
    // dup corpus arrives as 4 doc-id-ordered micro-batches; each batch
    // finds its pairs against the persisted MinHash index built so far
    // (deltaCandidates → exact verify, cost follows the batch), then
    // appends itself to the index (MinhashIndexStore.appendBatch). Every
    // unordered pair surfaces exactly once — in the batch where its LATER
    // member arrives — so the union over batches equals the full-corpus
    // banded run, and the oracle is d_jaccard_pairs_lsh's VERBATIM: any
    // drift between the incremental and the one-shot path breaks the hash. -----
    Q("d_stream_delta_dedup",
      (s, d) => graft.streaming.StreamingIngest
        .incrementalDedupAvailableNow(s, dupCorpus(s, d))._1
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |j AS (SELECT i.id_a, i.id_b,
              |        round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 4) AS jaccard
              |      FROM inter i
              |      JOIN sizes sa ON sa.doc_id = i.id_a
              |      JOIN sizes sb ON sb.doc_id = i.id_b
              |      JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b)
              |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // ----- asymmetric CONTAINMENT pairs: |A∩B|/|A| catches a document
    // embedded inside a longer one, which symmetric Jaccard dilutes below
    // any sane threshold (the +200000 append-variants are exactly this
    // shape). Candidates still come from the Jaccard-banded LSH — a
    // documented recall caveat (true containment indexing signs the
    // smaller set; at 0.5-jaccard banding the append-variants all
    // surface) — and the exact verify computes both directions. -----
    Q("d_containment_pairs",
      (s, d) => {
        val (corpus, withSig) = shingledDupCorpus(s, d)
        val cand = Dedup.lshCandidatePairs(
          Dedup.lshBands(withSig, "doc_id", "sig", 4, 4), "doc_id")
        // both containment denominators are SET SIZES — the pair-stats
        // core carries them next to the shared-gram count, hashed
        // (Dedup.hashedShingles' collision contract), like the Jaccard
        // verify
        Dedup.pairStats(Seam.session, cand, corpus, "doc_id", "shs")
          .select(col("id_a"), col("id_b"),
            round(col("_inter") / col("_n_a"), 4).as("c_ab"),
            round(col("_inter") / col("_n_b"), 4).as("c_ba"))
          .filter(greatest(col("c_ab"), col("c_ba")) >= 0.8)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |cont AS (SELECT i.id_a, i.id_b,
              |        round(i.inter * 1.0 / sa.n_sh, 4) AS c_ab,
              |        round(i.inter * 1.0 / sb.n_sh, 4) AS c_ba
              |      FROM inter i
              |      JOIN sizes sa ON sa.doc_id = i.id_a
              |      JOIN sizes sb ON sb.doc_id = i.id_b
              |      JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b)
              |SELECT id_a, id_b, c_ab, c_ba FROM cont
              |WHERE greatest(c_ab, c_ba) >= 0.8 ORDER BY id_a, id_b""".stripMargin)),

    // ----- one-knob dedupe: nearDupPairsAt("0.5") — banding chosen by the
    // s-curve rule (bandingFor(0.5, 16) = 8 bands × 2 rows, inflection at
    // (1/8)^(1/2) ≈ 0.354, the divisor pair nearest 0.5), then banded
    // candidates + exact broadcast verify. The oracle replicates the CHOSEN
    // banding, so a selection-rule regression breaks the hash. -----
    Q("d_near_dup_at",
      (s, d) => {
        assert(Dedup.bandingFor(0.5, 16) == ((8, 2)),
          "banding selection drifted; update the oracle to match")
        val corpus = dupCorpus(s, d)
          .withColumn("ws", Dedup.wordsArray("text"))
          .withColumn("shs", Dedup.wordShingles("ws", 5))
        Dedup.nearDupPairsAt(Seam.session, corpus, "doc_id", "shs", threshold = 0.5, nHashes = 16)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*2+1]::VARCHAR, sig[t.b*2+2]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 8)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |j AS (SELECT i.id_a, i.id_b,
              |        round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 4) AS jaccard
              |      FROM inter i
              |      JOIN sizes sa ON sa.doc_id = i.id_a
              |      JOIN sizes sb ON sb.doc_id = i.id_b
              |      JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b)
              |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    // ----- the full corpus-cleaning pipeline as ONE query — the end-use a
    // training-data build actually runs, each stage feeding the next:
    // Gopher-style quality rules → exact dedup (keep canonical) → verified
    // near-dup drop (LSH at 0.8) → benchmark decontamination. Output is the
    // per-stage retention funnel, so a regression in ANY stage moves a
    // hash-checked count. Every stage is the same scale shape its
    // standalone query pins (scan-speed rules, map-side-combined groupBy,
    // banded candidates + broadcast verify, broadcast holdout join). -----
    Q("d_corpus_pipeline",
      (s, d) => {
        val st = cleaningStages(s, d)
        def stage(name: String, df: DataFrame) =
          df.agg(count(lit(1)).as("docs")).select(lit(name).as("stage"), col("docs"))
        stage("1_raw", st.corpus)
          .union(stage("2_quality", st.quality))
          .union(stage("3_exact_dedup", st.exactDeduped))
          .union(stage("4_near_dedup", st.nearDeduped))
          .union(stage("5_decontaminated", st.decontaminated))
          .orderBy("stage")
      },
      Some(s"""WITH $CleaningCtes
              |SELECT stage, docs FROM (
              |  SELECT '1_raw' AS stage, count(*) AS docs FROM corpus
              |  UNION ALL SELECT '2_quality', count(*) FROM kept1
              |  UNION ALL SELECT '3_exact_dedup', count(*) FROM kept2
              |  UNION ALL SELECT '4_near_dedup', count(*) FROM kept3
              |  UNION ALL SELECT '5_decontaminated', count(*) FROM kept4)
              |ORDER BY stage""".stripMargin),
      bench = true),

    // ----- the cleaned corpus laid out for training — the step AFTER the
    // funnel: survivors of the full cleaning pipeline land in their
    // (split, shard) cells with doc and token sums, i.e. the manifest a
    // corpus build hands to the training job. Chains cleaning → placement
    // through the SHARED builders (cleaningStages + CorpusWriter.layout),
    // so a drift in either stage moves this hash. -----
    Q("d_train_manifest",
      (s, d) => {
        val st = cleaningStages(s, d)
        val finalDocs = st.corpus
          .join(st.decontaminated.select("doc_id"), Seq("doc_id"), "left_semi")
        graft.ops.CorpusWriter.layout(finalDocs, numShards = 8)
          .select(col("split"), col("shard"),
            graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
          .groupBy("split", "shard")
          .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("sum_tokens"))
          .orderBy("split", "shard")
      },
      Some(s"""WITH $CleaningCtes,
              |fin AS (SELECT c.doc_id, c.text FROM corpus c
              |        JOIN kept4 k ON k.doc_id = c.doc_id),
              |m AS (SELECT
              |    CASE WHEN CAST(concat('0x', substr(md5(md5(text)), 1, 15)) AS BIGINT) % 100 < 80
              |           THEN 'train'
              |         WHEN CAST(concat('0x', substr(md5(md5(text)), 1, 15)) AS BIGINT) % 100 < 90
              |           THEN 'val'
              |         ELSE 'test' END AS split,
              |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
              |    len(regexp_extract_all(text, '\\S+'))::BIGINT AS n_tok
              |  FROM fin)
              |SELECT split, shard, count(*) AS n_docs,
              |       CAST(sum(n_tok) AS BIGINT) AS sum_tokens
              |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ----- incremental dedup via the persisted signature index: the stored
    // corpus (doc_id < 200000) keeps its MinHash bands on disk
    // (MinhashIndexStore, built once — warm pass builds, timed pass probes);
    // the "sync batch" (the +200000 near-dup docs) is signed batch-side
    // only and broadcast against the stored band table. Cost: |batch| +
    // candidates — the corpus is never re-shingled. Same output contract as
    // a full LSH run filtered to pairs touching the batch, which is exactly
    // what the oracle computes. -----
    Q("d_delta_dedup",
      (s, d) => {
        val stored = dupCorpus(s, d).filter(col("doc_id") < 200000)
        val batch = dupCorpus(s, d).filter(col("doc_id") >= 200000)
        // layout params in the dir name: a banding change in a future build
        // must miss this cache, not probe a stale differently-banded index
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft-mh-idx-16-4-4-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        val st = new graft.store.MinhashIndexStore(s, dir,
          nHashes = 16, bands = 4, rowsPerBand = 4)
        // staleness gate matches the ANN store queries: a row-count probe
        // (the index's manifest row count vs the corpus count) invalidates a
        // cached index if the corpus was regenerated in place. Real engine
        // freshness is the refresh path's job — this only protects the
        // cross-run tmp cache.
        // zero jobs when nothing changed: the corpus count is
        // signature-memoized on documents.parquet, the index rowCount is a
        // manifest read
        val nStored = graft.core.SourceStamp.memoLong(
          s"$d/documents.parquet", "delta_stored")(stored.count())
        if (!st.exists || st.rowCount() != nStored) st.rebuild(stored)
        val cands = st.deltaCandidates(Seam.session, batch)
        // exact-verify shingles ONLY the docs appearing in candidate pairs
        // (semi-join before the shingle projection): verify cost follows
        // |candidates|, not corpus size — at 100 TB these are data-skipped
        // point reads, not a corpus scan. The id set routes by measured
        // count like the pair join itself: broadcast when bounded,
        // shuffle-semi when a candidate explosion reaches the id set too.
        val candIds = cands.select(col("id_a").as("doc_id"))
          .union(cands.select(col("id_b").as("doc_id"))).distinct()
        val needed = Dedup.routedSemiJoin(Seam.session, dupCorpus(s, d), candIds, "doc_id")
          .withColumn("ws", Dedup.wordsArray("text"))
          .withColumn("shs", Dedup.wordShingles("ws", 5))
        Dedup.jaccardOnPairs(Seam.session, cands, needed, "doc_id", "shs")
          .filter(col("jaccard") >= 0.5)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
              |  WHERE a.doc_id >= 200000 OR b.doc_id >= 200000),
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |j AS (SELECT i.id_a, i.id_b,
              |        round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 4) AS jaccard
              |      FROM inter i
              |      JOIN sizes sa ON sa.doc_id = i.id_a
              |      JOIN sizes sb ON sb.doc_id = i.id_b
              |      JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b)
              |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
              |ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // ----- the WHOLE cleaning funnel run incrementally — the d_delta_dedup
    // pattern lifted from one stage to the full quality → exact → near-dup
    // → decontamination pipeline (r16 VERDICT #2, the funnel's production
    // deployment shape). The stored corpus (doc_id < 200000) is cleaned
    // once into persisted CleanStateStore state (fingerprints, MinHash
    // bands, survivor ids, benchmark shingles, survivor postings — built
    // in the warm pass, staleness-gated like the other index stores); the
    // "sync batch" (the +200000 near-dup docs) then cleans against that
    // state only: every state table is scanned under a broadcast of a
    // batch-derived side, zero state-scale shuffles. Includes the funnel's
    // one non-monotone edge: batch docs that are HOLDOUT members extend
    // the benchmark shingle set and REVOKE stored survivors they
    // contaminate (live in this data: e.g. doc 305 survives the stored
    // funnel, its +200000 mutation is a holdout member, so 305 is revoked).
    // Output = the union corpus's final survivor ids — hash-matched
    // against the BATCH funnel on the union (the same CleaningCtes as
    // d_corpus_pipeline), so the increment is provably exact, not
    // approximately right. -----
    Q("d_delta_pipeline",
      (s, d) => {
        val full = dupCorpus(s, d)
        val stored = full.filter(col("doc_id") < 200000)
        val batch = full.filter(col("doc_id") >= 200000)
        val hold = col("doc_id") % 97 === 0
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft-cleanstate-16-4-4-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        val st = new graft.store.CleanStateStore(s, dir)
        val nStored = graft.core.SourceStamp.memoLong(
          s"$d/documents.parquet", "delta_pipeline_stored")(stored.count())
        if (!st.exists || st.rawCount() != nStored) st.rebuild(stored, hold)
        st.applyBatch(Seam.session, batch, full, hold).survivors.orderBy("doc_id")
      },
      Some(s"""WITH $CleaningCtes
              |SELECT doc_id FROM kept4 ORDER BY doc_id""".stripMargin),
      bench = true),

    // ----- the incremental funnel as a STREAM: the dup corpus replays as
    // 4 ascending-id staged files (one per AvailableNow trigger); every
    // micro-batch cleans against the persisted CleanStateStore and absorbs
    // (the d_stream_delta_dedup cadence lifted to the whole funnel). The
    // final survivor set must equal the batch funnel on the whole corpus —
    // the SAME CleaningCtes oracle, third route onto it (batch funnel,
    // delta, stream), so any drift among the three breaks a hash. Note the
    // ascending replay makes first-wins monotone AND exercises cross-batch
    // revocation: the +200000 slice's holdout docs retract survivors
    // admitted two batches earlier. -----
    Q("e_stream_pipeline",
      (s, d) => graft.streaming.StreamingIngest
        .cleanPipelineAvailableNow(s, dupCorpus(s, d),
          isHoldout = col("doc_id") % 97 === 0, numFiles = 4)._1
        .orderBy("doc_id"),
      Some(s"""WITH $CleaningCtes
              |SELECT doc_id FROM kept4 ORDER BY doc_id""".stripMargin)),

    // ----- transitive duplicate groups: LSH-verified pairs → connected
    // components → (doc, canonical representative, group size). Pairs alone
    // under-specify survivor choice on chains (A~B, B~C without A~C); the
    // closure makes "keep the min id per group" well-defined. Spark side is
    // iterative min-label propagation (one shuffle per round, diameter
    // rounds); the oracle replays the closure with WITH RECURSIVE. -----
    Q("d_dup_groups",
      (s, d) => {
        val (corpus, withSig) = shingledDupCorpus(s, d)
        val candidates = Dedup.lshCandidatePairs(
          Dedup.lshBands(withSig, "doc_id", "sig", 4, 4), "doc_id")
        val verified = Dedup.jaccardOnPairs(Seam.session, candidates, corpus, "doc_id", "shs")
          .filter(col("jaccard") >= 0.5)
        val comp = Dedup.connectedComponents(verified)
        val sizes = comp.groupBy("comp").agg(count(lit(1)).as("group_size"))
        comp.join(sizes, "comp")
          .select(col("id").as("doc_id"), col("comp").as("group_rep"),
            col("group_size"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |verified AS (SELECT i.id_a, i.id_b
              |  FROM inter i
              |  JOIN sizes sa ON sa.doc_id = i.id_a
              |  JOIN sizes sb ON sb.doc_id = i.id_b
              |  JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  WHERE round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 4) >= 0.5),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM verified
              |          UNION SELECT id_b, id_a FROM verified),
              |reach(id, r) AS (
              |  SELECT src, src FROM edges
              |  UNION
              |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
              |cc AS (SELECT id, min(r) AS group_rep FROM reach GROUP BY 1)
              |SELECT id AS doc_id, group_rep,
              |       count(*) OVER (PARTITION BY group_rep) AS group_size
              |FROM cc ORDER BY doc_id""".stripMargin), bench = true),

    // ----- keep-best representative per dup group: the canonical corpus-
    // cleaning step a near-dedup exists to feed. Same LSH→verify→CC chain
    // as d_dup_groups, then each group keeps its HIGHEST-quality member
    // (t_quality's score; doc_id tiebreak — exact-copy groups tie on
    // quality), singletons keep themselves via the left join. Min-id
    // canonical (d_clean_corpus) is the cheap variant; quality-argmax is
    // what a training pipeline actually wants. -----
    Q("d_keep_best",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val (corpus, withSig) = shingledDupCorpus(s, d)
        val candidates = Dedup.lshCandidatePairs(
          Dedup.lshBands(withSig, "doc_id", "sig", 4, 4), "doc_id")
        val verified = Dedup.jaccardOnPairs(Seam.session, candidates, corpus, "doc_id", "shs")
          .filter(col("jaccard") >= 0.5)
        val comp = Dedup.connectedComponents(verified)
        val scored = corpus.select(col("doc_id"),
          graft.ops.TextAnalysis.qualityScore(col("text")).as("quality"))
        val grouped = scored.join(comp, scored("doc_id") === comp("id"), "left_outer")
          .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("grp"),
            col("quality"))
        val w = Window.partitionBy("grp")
          .orderBy(col("quality").desc, col("doc_id"))
        grouped
          .withColumn("rn", row_number().over(w))
          .withColumn("group_size", count(lit(1)).over(Window.partitionBy("grp")))
          .filter(col("rn") === 1)
          .select(col("grp").as("group_rep"), col("doc_id").as("kept_id"),
            col("quality"), col("group_size"))
          .orderBy("group_rep")
      },
      Some(s"""WITH RECURSIVE $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |verified AS (SELECT i.id_a, i.id_b
              |  FROM inter i
              |  JOIN sizes sa ON sa.doc_id = i.id_a
              |  JOIN sizes sb ON sb.doc_id = i.id_b
              |  JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  WHERE round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 4) >= 0.5),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM verified
              |          UNION SELECT id_b, id_a FROM verified),
              |reach(id, r) AS (
              |  SELECT src, src FROM edges
              |  UNION
              |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
              |cc AS (SELECT id, min(r) AS group_rep FROM reach GROUP BY 1),
              |q AS (SELECT doc_id, round(
              |    (len(regexp_extract_all(text, '[a-zA-Z0-9]')) * 1.0
              |       / greatest(length(text) * 1.0, 1.0)) * 0.25
              |  + least(length(text) * 1.0 / 500.0, 1.0) * 0.25
              |  + least((len(regexp_extract_all(lower(text), '\\b(the|and|of|is|to|a|in)\\b')) * 1.0
              |       / greatest(len(regexp_extract_all(text, '\\S+')) * 1.0, 1.0)) * 5.0, 1.0) * 0.25
              |  + (len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) * 1.0
              |       / greatest(len(regexp_extract_all(text, '\\S+')) * 1.0, 1.0)) * 0.25
              |  , 4) AS quality FROM corpus),
              |g AS (SELECT q.doc_id, coalesce(cc.group_rep, q.doc_id) AS grp, q.quality
              |      FROM q LEFT JOIN cc ON cc.id = q.doc_id),
              |r AS (SELECT grp, doc_id, quality,
              |        row_number() OVER (PARTITION BY grp ORDER BY quality DESC, doc_id) AS rn,
              |        count(*) OVER (PARTITION BY grp) AS group_size
              |      FROM g)
              |SELECT grp AS group_rep, doc_id AS kept_id, quality, group_size
              |FROM r WHERE rn = 1 ORDER BY group_rep""".stripMargin)),

    // ----- MinHash + LSH candidate pairs (16 hashes, 4 bands × 4 rows) -----
    Q("d_minhash_lsh",
      (s, d) => {
        val withSig = dupCorpus(s, d)
          .withColumn("ws", Dedup.wordsArray("text"))
          .withColumn("shs", Dedup.wordShingles("ws", 5))
          .filter(size(col("shs")) > 0)
          .withColumn("hs", Dedup.shingleBaseHashes("shs"))
          .withColumn("sig", Dedup.minhashSignature("hs", 16))
        val bands = Dedup.lshBands(withSig, "doc_id", "sig", bands = 4, rowsPerBand = 4)
        // named accumulator = the hot-bucket audit surfaces in the Spark UI
        // per stage; dropped buckets also WARN-log executor-side
        Dedup.lshCandidatePairs(bands, "doc_id",
            droppedBuckets = Some(s.sparkContext.longAccumulator(
              "graft.lsh.dropped_hot_buckets.d_minhash_lsh")))
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id)
              |SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // ----- LSH quality as first-class data: realized recall of the
    // production (b=4, r=4) banding against the EXACT Jaccard ground
    // truth, per similarity bucket — the minhash twin of the ANN
    // probes→recall evaluation. The hash functions are fixed, so the
    // realized candidate set (and therefore every recall cell) is
    // deterministic and the oracle replays signatures, bands, ground
    // truth, and the bucket census exactly. The s-curve
    // 1-(1-J^4)^4 predicts ~0.23 at J=0.5 rising to 1.0 at J=1 —
    // the measured row set pins where the deployment actually sits. -----
    Q("d_lsh_recall_eval",
      (s, d) => {
        val (corpus, withSig) = shingledDupCorpus(s, d, filterEmpty = true)
        // UNCAPPED candidates: the eval measures the BANDING's recall, so
        // the hot-bucket cap must not enter (and the oracle models no
        // cap — a capped run on a hotter corpus would silently diverge);
        // the cap's own effect is audited separately via oversizedBuckets
        val cands = Dedup.lshCandidatePairs(
            Dedup.lshBands(withSig, "doc_id", "sig", 4, 4), "doc_id",
            maxBucketSize = Int.MaxValue)
          .withColumn("caught", lit(1L))
        val posts = corpus.select(col("doc_id"), explode(col("shs")).as("sh"))
        val inter = posts.as("a").join(posts.as("b"),
            col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .agg(count(lit(1)).as("ni"))
        val sizes = corpus.select(col("doc_id"), size(col("shs")).cast("long").as("ns"))
        // integer-only bucket arithmetic: (10·|∩|) DIV |∪| — no float
        // boundary can disagree between engines
        val truth = inter
          .join(sizes.select(col("doc_id").as("id_a"), col("ns").as("na")), "id_a")
          .join(sizes.select(col("doc_id").as("id_b"), col("ns").as("nb")), "id_b")
          .withColumn("nu", col("na") + col("nb") - col("ni"))
          .filter(col("ni") * 2 >= col("nu"))
          .withColumn("j_bucket", expr("ni * 10 DIV nu"))
        truth.join(cands, Seq("id_a", "id_b"), "left")
          .groupBy("j_bucket")
          .agg(count(lit(1)).as("n_pairs"),
            sum(coalesce(col("caught"), lit(0L))).as("n_caught"),
            (round(sum(coalesce(col("caught"), lit(0L))).cast("double") /
              count(lit(1)), 4) + 0.0).as("recall"))
          .orderBy("j_bucket")
      },
      Some(s"""WITH $ShinglesCte,
              |sd AS (SELECT doc_id, shs FROM sh WHERE len(shs) > 0),
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sd),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sd),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
              |  FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |sizes AS (SELECT doc_id, len(shs) AS ns FROM sd),
              |truth AS (SELECT i.id_a, i.id_b, i.ni,
              |    sa.ns + sb.ns - i.ni AS nu
              |  FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
              |  JOIN sizes sb ON sb.doc_id = i.id_b
              |  WHERE i.ni * 2 >= sa.ns + sb.ns - i.ni),
              |j AS (SELECT t.id_a, t.id_b, (t.ni * 10) // t.nu AS j_bucket,
              |    CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS caught
              |  FROM truth t LEFT JOIN cand c
              |    ON c.id_a = t.id_a AND c.id_b = t.id_b)
              |SELECT CAST(j_bucket AS BIGINT) AS j_bucket,
              |  CAST(count(*) AS BIGINT) AS n_pairs,
              |  CAST(sum(caught) AS BIGINT) AS n_caught,
              |  round(CAST(sum(caught) AS DOUBLE) / count(*), 4) AS recall
              |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- end-use: clean corpus via LSH candidates → Jaccard verify →
    // keep-canonical (the dedup pipeline a training corpus actually runs) -----
    Q("d_clean_corpus",
      (s, d) => {
        // the shingled corpus feeds three consumers (minhash signatures,
        // both sides of the pair verify) — persist so the shingle UDF runs
        // once, the in-session twin of a stored shingle table
        val (corpus, withSig) = shingledDupCorpus(s, d)
        val candidates = Dedup.lshCandidatePairs(
          Dedup.lshBands(withSig, "doc_id", "sig", 4, 4), "doc_id",
          droppedBuckets = Some(s.sparkContext.longAccumulator(
            "graft.lsh.dropped_hot_buckets.d_clean_corpus")))
        // verify Jaccard ONLY on the LSH candidate pairs (the production
        // shape: candidates ≪ all-pairs, so the exact check is a per-pair
        // array_intersect, not a full shingle-posting self-join)
        val verified = Dedup.jaccardOnPairs(Seam.session, candidates, corpus, "doc_id", "shs")
          .filter(col("jaccard") >= 0.8)
        // drop the larger id of every verified pair (keep-canonical = min id)
        val dropped = verified.select(col("id_b").as("doc_id")).distinct()
        corpus.join(dropped, Seq("doc_id"), "left_anti")
          .agg(count(lit(1)).as("kept_docs"))
      },
      Some(s"""WITH $ShinglesCte,
              |hs AS (SELECT doc_id,
              |    list_transform(shs, s ->
              |      CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS hs
              |  FROM sh WHERE len(shs) > 0),
              |sig AS (SELECT doc_id,
              |    [list_min(list_transform(hs, h -> ((2*i+3) * h + (7*i+1)) % 2147483647))
              |     for i in range(0, 16)] AS sig
              |  FROM hs),
              |bands AS (SELECT doc_id, t.b,
              |    md5(concat_ws(',', sig[t.b*4+1]::VARCHAR, sig[t.b*4+2]::VARCHAR,
              |                       sig[t.b*4+3]::VARCHAR, sig[t.b*4+4]::VARCHAR)) AS band_hash
              |  FROM sig, (SELECT unnest(range(0, 4)) AS b) t),
              |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM bands a JOIN bands b
              |    ON a.b = b.b AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
              |sizes AS (SELECT doc_id, len(shs) AS n_sh FROM sh),
              |posts AS (SELECT doc_id, unnest(shs) AS s FROM sh),
              |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |          FROM posts a JOIN posts b ON a.s = b.s AND a.doc_id < b.doc_id
              |          GROUP BY 1, 2),
              |verified AS (SELECT i.id_a, i.id_b
              |  FROM inter i
              |  JOIN sizes sa ON sa.doc_id = i.id_a
              |  JOIN sizes sb ON sb.doc_id = i.id_b
              |  JOIN cand c ON c.id_a = i.id_a AND c.id_b = i.id_b
              |  WHERE round(i.inter * 1.0 / (sa.n_sh + sb.n_sh - i.inter), 4) >= 0.8),
              |dropped AS (SELECT DISTINCT id_b AS doc_id FROM verified)
              |SELECT count(*) AS kept_docs FROM corpus
              |WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin),
      bench = true),

    // ----- end-use: benchmark decontamination (train docs sharing 5-gram
    // shingles with a held-out benchmark set are flagged) -----
    Q("d_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("ws", Dedup.wordsArray("text"))
          .withColumn("shs", Dedup.wordShingles("ws", 5))
        val bench = docs.filter(col("doc_id") % 97 === 0)
          .select(explode(col("shs")).as("sh")).distinct()
        val train = docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("shs")).as("sh"))
        train.join(broadcast(bench), "sh")
          .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_shared"))
          .filter(col("n_shared") >= 1)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |          FROM documents),
             |sh AS (SELECT doc_id,
             |         CASE WHEN len(ws) >= 5
             |           THEN list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)])
             |           ELSE [] END AS shs
             |       FROM w),
             |bench AS (SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0),
             |train AS (SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0)
             |SELECT t.doc_id, count(DISTINCT t.s) AS n_shared
             |FROM train t JOIN bench b ON t.s = b.s
             |GROUP BY 1 HAVING count(DISTINCT t.s) >= 1 ORDER BY 1""".stripMargin)),

    // ----- decontamination via WINNOWING fingerprints — the
    // paraphrase-robust third variant: shingle decontamination (above)
    // needs 5 words copied verbatim; winnowed rolling-hash fingerprints
    // (k=8 chars, window 4) survive local edits, so a benchmark passage
    // lightly reworded into a train doc still collides. The synthetic
    // corpus shares heavy vocabulary, so 8-char grains have a high chance
    // baseline (median 29 shared fps/doc at sf0.01) — the threshold sits
    // at the ~p90 of that baseline (≥ 48), flagging only documents whose
    // overlap is far beyond chance, which is how a real decontamination
    // pass tunes its cutoff against the null distribution.
    // Same broadcast-the-benchmark shape as the other decontam queries —
    // at 100 TB the benchmark side is small by definition. -----
    Q("d_decontam_winnow",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .filter(length(col("text")) >= graft.ops.TextAnalysis.WinnowK)
          .select(col("doc_id"),
            graft.ops.TextAnalysis.winnowFingerprints(col("text")).as("fps"))
        val bench = docs.filter(col("doc_id") % 97 === 0)
          .select(explode(col("fps")).as("fp")).distinct()
        val train = docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("fps")).as("fp"))
        train.join(broadcast(bench), "fp")
          .groupBy("doc_id").agg(countDistinct(col("fp")).as("n_shared"))
          .filter(col("n_shared") >= 48)
          .orderBy("doc_id")
      },
      Some {
        val m = graft.ops.TextAnalysis.WinnowMod
        val weights = (0 until graft.ops.TextAnalysis.WinnowK).map { j =>
          var p = 1L
          for (_ <- 0 until (graft.ops.TextAnalysis.WinnowK - 1 - j))
            p = p * graft.ops.TextAnalysis.WinnowBase % m
          p
        }.mkString("[", ", ", "]")
        s"""WITH c AS (SELECT doc_id, text,
           |    [ord(text[i])::BIGINT for i in range(1, length(text) + 1)] AS codes
           |  FROM documents WHERE length(text) >= 8),
           |h AS (SELECT doc_id,
           |    [CAST(list_sum([codes[i + j] * ($weights)[j + 1] for j in range(0, 8)]) % $m
           |          AS BIGINT)
           |     for i in range(1, len(codes) - 6)] AS hs
           |  FROM c),
           |f AS (SELECT doc_id,
           |    CASE WHEN len(hs) < 4 THEN [list_min(hs)]
           |         ELSE list_sort(list_distinct(
           |           [list_min(hs[i:i+3]) for i in range(1, len(hs) - 2)]))
           |    END AS fps
           |  FROM h),
           |bench AS (SELECT DISTINCT unnest(fps) AS fp FROM f WHERE doc_id % 97 = 0),
           |train AS (SELECT doc_id, unnest(fps) AS fp FROM f WHERE doc_id % 97 <> 0)
           |SELECT t.doc_id, count(DISTINCT t.fp) AS n_shared
           |FROM train t JOIN bench b ON t.fp = b.fp
           |GROUP BY 1 HAVING count(DISTINCT t.fp) >= 48 ORDER BY 1""".stripMargin
      }),

    // ----- decontamination with a Bloom prefilter — the 100 TB shape: the
    // benchmark shingle set compresses to a broadcast Bloom filter, ~fpp of
    // the train postings survive to the exact join (which then removes the
    // false positives), so the shuffle carries ~1% of the corpus. Identical
    // result to d_decontaminate; same oracle. -----
    Q("d_decontaminate_bloom",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("ws", Dedup.wordsArray("text"))
          .withColumn("shs", Dedup.wordShingles("ws", 5))
        val benchShingles = docs.filter(col("doc_id") % 97 === 0)
          .select(explode(col("shs")).as("sh")).distinct()
        val bloom = benchShingles.stat.bloomFilter("sh", 100000L, 0.01)
        val bc = s.sparkContext.broadcast(bloom)
        val mightMatch = udf((x: String) => bc.value.mightContain(x))
        val train = docs.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id"), explode(col("shs")).as("sh"))
          .filter(mightMatch(col("sh")))
        train.join(broadcast(benchShingles), "sh")
          .groupBy("doc_id").agg(countDistinct(col("sh")).as("n_shared"))
          .filter(col("n_shared") >= 1)
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |          FROM documents),
             |sh AS (SELECT doc_id,
             |         CASE WHEN len(ws) >= 5
             |           THEN list_distinct([array_to_string(ws[i:i+4], ' ') for i in range(1, len(ws) - 3)])
             |           ELSE [] END AS shs
             |       FROM w),
             |bench AS (SELECT DISTINCT unnest(shs) AS s FROM sh WHERE doc_id % 97 = 0),
             |train AS (SELECT doc_id, unnest(shs) AS s FROM sh WHERE doc_id % 97 <> 0)
             |SELECT t.doc_id, count(DISTINCT t.s) AS n_shared
             |FROM train t JOIN bench b ON t.s = b.s
             |GROUP BY 1 HAVING count(DISTINCT t.s) >= 1 ORDER BY 1""".stripMargin),
      bench = true),

    // ----- deterministic stratified sampling: a fixed per-language quota
    // drawn by portable hash order (reproducible across runs/engines — the
    // training-data "N docs per stratum" primitive) -----
    Q("t_stratified_sample",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("lang")
          .orderBy(Dedup.hash60(col("doc_id").cast("string")).asc, col("doc_id").asc)
        Tables.documents(s, d)
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 20)
          .select(col("lang"), col("doc_id"), col("rk"))
          .orderBy("lang", "rk")
      },
      Some("""SELECT lang, doc_id, rk FROM (
             |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
             |    ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
             |             doc_id) AS rk
             |  FROM documents) WHERE rk <= 20 ORDER BY lang, rk""".stripMargin)),

    // ----- weighted sampling WITHOUT replacement (Efraimidis–Spirakis
    // 2006): priority key ln(u)/w with u from the portable hash, w = word
    // count — the one-pass distributed answer to "sample k docs with
    // probability proportional to length/quality" (uniform reservoir
    // can't weight; sequential weighted sampling can't distribute). The
    // top-k by key IS the weighted sample; TakeOrdered-shaped, map-side
    // keys, zero state. Key rounded at 1e-9 on both engines so libm ln
    // ulps can't flip a rank; doc_id tiebreak makes the order total. -----
    Q("t_priority_sample",
      (s, d) => {
        val docs = Tables.documents(s, d)
          .withColumn("w", greatest(lit(1), size(Dedup.wordsArray("text"))).cast("long"))
          .withColumn("u", (Dedup.hash60(col("text")) + 1) / pow(lit(2.0), lit(60)))
          .withColumn("priority", round(log(col("u")) / col("w"), 9))
        docs.select(col("doc_id"), col("w"), col("priority"))
          .orderBy(col("priority").desc, col("doc_id"))
          .limit(50)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    greatest(1, len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT AS w,
             |    (CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) + 1)
             |      / power(2.0, 60) AS u
             |  FROM documents)
             |SELECT doc_id, w, round(ln(u) / w, 9) AS priority
             |FROM t ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin)),

    // ----- SimHash signatures (32-bit, per-row projection) -----
    Q("d_simhash",
      (s, d) => dupCorpus(s, d)
        .withColumn("ws", Dedup.wordsArray("text"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"), Dedup.simhash("ws", 32).as("simhash"))
        .orderBy("doc_id"),
      Some(s"""WITH $DupCorpusCte,
              |w AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
              |      FROM corpus),
              |h AS (SELECT doc_id, list_transform(ws, x ->
              |        CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS hs
              |      FROM w WHERE len(ws) > 0),
              |d AS (SELECT doc_id, unnest(hs) AS h FROM h),
              |bb AS (SELECT d.doc_id, t.b,
              |         sum(CASE WHEN (d.h >> t.b) % 2 = 1 THEN 1 ELSE -1 END) AS s
              |       FROM d, (SELECT unnest(range(0, 32)) AS b) t GROUP BY 1, 2)
              |SELECT doc_id,
              |  CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
              |FROM bb GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- SimHash near-dup pairs (16-bit prefix block + hamming <= 6) -----
    Q("d_simhash_pairs",
      (s, d) => {
        val sigs = dupCorpus(s, d)
          .withColumn("ws", Dedup.wordsArray("text"))
          .filter(size(col("ws")) > 0)
          .select(col("doc_id"), Dedup.simhash("ws", 32).as("simhash"))
        Dedup.simhashPairs(sigs, "doc_id", "simhash",
          bits = 32, prefixBits = 16, maxHamming = 6)
          .orderBy("id_a", "id_b")
      },
      Some(s"""WITH $DupCorpusCte,
              |w AS (SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS ws
              |      FROM corpus),
              |h AS (SELECT doc_id, list_transform(ws, x ->
              |        CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)) AS hs
              |      FROM w WHERE len(ws) > 0),
              |d AS (SELECT doc_id, unnest(hs) AS h FROM h),
              |bb AS (SELECT d.doc_id, t.b,
              |         sum(CASE WHEN (d.h >> t.b) % 2 = 1 THEN 1 ELSE -1 END) AS s
              |       FROM d, (SELECT unnest(range(0, 32)) AS b) t GROUP BY 1, 2),
              |sig AS (SELECT doc_id,
              |    CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
              |  FROM bb GROUP BY 1),
              |blk AS (SELECT doc_id, simhash, simhash >> 16 AS blk FROM sig)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       bit_count(xor(a.simhash, b.simhash)) AS hamming
              |FROM blk a JOIN blk b ON a.blk = b.blk AND a.doc_id < b.doc_id
              |WHERE bit_count(xor(a.simhash, b.simhash)) <= 6
              |ORDER BY id_a, id_b""".stripMargin)),

    // ----- embedding-cosine near-dup pairs (top-100 by cosine).
    // CORRECTNESS BASELINE ONLY — the cross join is O(n²) in corpus size,
    // so it stays oracle-gated but UNBENCHED; the headline workload is the
    // SRP-bucketed d_embed_dup_lsh below. -----
    // Input CAPPED at vec_id < 500 (the full sf0.01 table, a strict subset
    // beyond) so a future sf bump cannot turn the correctness run quadratic:
    // the baseline stays exercised at a bounded N forever.
    Q("d_embed_dup",
      (s, d) => Dedup.embeddingDupPairs(
          Tables.embeddings(s, d).filter(col("vec_id") < 500),
          "vec_id", "embedding", threshold = 0.3)
        .orderBy(col("cos").desc, col("id_a"), col("id_b"))
        .limit(100),
      Some("""WITH e AS (SELECT * FROM embeddings WHERE vec_id < 500),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    a.embedding AS va, b.embedding AS vb
             |  FROM e a, e b WHERE a.vec_id < b.vec_id),
             |dt AS (SELECT id_a, id_b,
             |    sum(va[t.i]::DOUBLE * vb[t.i]::DOUBLE) AS dot,
             |    sum(va[t.i]::DOUBLE * va[t.i]::DOUBLE) AS na,
             |    sum(vb[t.i]::DOUBLE * vb[t.i]::DOUBLE) AS nb
             |  FROM p, generate_series(1, 64) t(i) GROUP BY 1, 2),
             |c AS (SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos FROM dt)
             |SELECT id_a, id_b, cos FROM c WHERE cos >= 0.3
             |ORDER BY cos DESC, id_a, id_b LIMIT 100""".stripMargin)),

    // ----- SRP-LSH bucketed ANN (the scale path; 8 hyperplanes) -----
    // ----- ANN quality EVALUATION as a first-class operator: recall@10 of
    // the SRP-bucket candidate path against brute-force ground truth, per
    // query, in one job — the measurement loop every ANN deployment runs
    // before trusting an index (specs gate recall today; this makes the
    // harness itself a hash-checked query). 5 fixed queries; both ranking
    // lists order by (rounded score, id) so the comparison is exact. -----
    Q("v_recall_eval",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val pairs = e.crossJoin(broadcast(qs)) // 5 fixed queries — a dim
          .withColumn("score", round(
            graft.search.VectorSearch.dotDistance(col("embedding"), col("qv")), 4) + 0.0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("score"), col("vec_id"))
        val gt = pairs.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10).select("query_id", "vec_id")
        val bucketed = pairs
          .withColumn("b", Similarity.srpBucket("embedding", 64, 6))
          .withColumn("qb", Similarity.srpBucket("qv", 64, 6))
          .filter(col("b") === col("qb"))
        val cand = bucketed.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10).select("query_id", "vec_id")
        val bucketSize = bucketed.groupBy("query_id")
          .agg(count(lit(1)).as("n_bucket"))
        val hits = gt.join(cand, Seq("query_id", "vec_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        qs.select("query_id")
          .join(bucketSize, Seq("query_id"), "left_outer")
          .join(hits, Seq("query_id"), "left_outer")
          .select(col("query_id"),
            coalesce(col("n_bucket"), lit(0L)).as("n_bucket"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (round(coalesce(col("n_hits"), lit(0L)) / 10.0, 2) + 0.0).as("recall_at_10"))
          .orderBy("query_id")
      },
      Some("""WITH comp AS (SELECT p.p, j.j,
             |    CASE WHEN CAST(concat('0x', substr(md5(p.p || ':' || j.j), 1, 15)) AS BIGINT) % 2 = 0
             |         THEN 1.0 ELSE -1.0 END AS c
             |  FROM (SELECT unnest(range(0, 6)) AS p) p,
             |       (SELECT unnest(range(0, 64)) AS j) j),
             |dotp AS (SELECT e.vec_id, c.p, sum(e.embedding[c.j + 1]::DOUBLE * c.c) AS sv
             |  FROM embeddings e, comp c GROUP BY 1, 2),
             |buck AS (SELECT vec_id,
             |    sum(CASE WHEN sv > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
             |  FROM dotp GROUP BY 1),
             |q AS (SELECT vec_id AS query_id, embedding AS qv
             |  FROM embeddings WHERE vec_id < 5),
             |qb AS (SELECT q.query_id, b.bucket FROM q
             |  JOIN buck b ON b.vec_id = q.query_id),
             |sc AS (SELECT q.query_id, e.vec_id,
             |    round(1.0 - sum(e.embedding[t.i]::DOUBLE * q.qv[t.i]::DOUBLE), 4) + 0.0 AS score
             |  FROM embeddings e, q, generate_series(1, 64) t(i)
             |  GROUP BY 1, 2),
             |gt AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) AS rk
             |    FROM sc) WHERE rk <= 10),
             |bucketed AS (SELECT s.query_id, s.vec_id, s.score FROM sc s
             |  JOIN buck b ON b.vec_id = s.vec_id
             |  JOIN qb ON qb.query_id = s.query_id AND qb.bucket = b.bucket),
             |cand AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) AS rk
             |    FROM bucketed) WHERE rk <= 10),
             |bs AS (SELECT query_id, count(*) AS n_bucket FROM bucketed GROUP BY 1),
             |hits AS (SELECT g.query_id, count(*) AS n_hits FROM gt g
             |  JOIN cand c ON g.query_id = c.query_id AND g.vec_id = c.vec_id
             |  GROUP BY 1)
             |SELECT q.query_id, coalesce(bs.n_bucket, 0) AS n_bucket,
             |  coalesce(hits.n_hits, 0) AS n_hits,
             |  round(coalesce(hits.n_hits, 0) / 10.0, 2) + 0.0 AS recall_at_10
             |FROM q LEFT JOIN bs USING (query_id) LEFT JOIN hits USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    // ----- multi-probe twin of v_recall_eval: candidates come from the
    // query's bucket PLUS every hamming-1 neighbor bucket (7 probes at 6
    // planes) — the standard recall lever when a single SRP table
    // under-recalls; same ground truth, so the two queries together
    // measure the probes→recall tradeoff as data. -----
    Q("v_recall_multiprobe",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val pairs = e.crossJoin(broadcast(qs))
          .withColumn("score", round(
            graft.search.VectorSearch.dotDistance(col("embedding"), col("qv")), 4) + 0.0)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("score"), col("vec_id"))
        val gt = pairs.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10).select("query_id", "vec_id")
        val bucketed = pairs
          .withColumn("b", Similarity.srpBucket("embedding", 64, 6))
          .withColumn("qb", Similarity.srpBucket("qv", 64, 6))
          .filter(expr("bit_count(b ^ qb) <= 1")) // bucket + 6 neighbors
        val cand = bucketed.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= 10).select("query_id", "vec_id")
        val probed = bucketed.groupBy("query_id")
          .agg(count(lit(1)).as("n_probed"))
        val hits = gt.join(cand, Seq("query_id", "vec_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        qs.select("query_id")
          .join(probed, Seq("query_id"), "left_outer")
          .join(hits, Seq("query_id"), "left_outer")
          .select(col("query_id"),
            coalesce(col("n_probed"), lit(0L)).as("n_probed"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (round(coalesce(col("n_hits"), lit(0L)) / 10.0, 2) + 0.0).as("recall_at_10"))
          .orderBy("query_id")
      },
      Some("""WITH comp AS (SELECT p.p, j.j,
             |    CASE WHEN CAST(concat('0x', substr(md5(p.p || ':' || j.j), 1, 15)) AS BIGINT) % 2 = 0
             |         THEN 1.0 ELSE -1.0 END AS c
             |  FROM (SELECT unnest(range(0, 6)) AS p) p,
             |       (SELECT unnest(range(0, 64)) AS j) j),
             |dotp AS (SELECT e.vec_id, c.p, sum(e.embedding[c.j + 1]::DOUBLE * c.c) AS sv
             |  FROM embeddings e, comp c GROUP BY 1, 2),
             |buck AS (SELECT vec_id,
             |    sum(CASE WHEN sv > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
             |  FROM dotp GROUP BY 1),
             |q AS (SELECT vec_id AS query_id, embedding AS qv
             |  FROM embeddings WHERE vec_id < 5),
             |qb AS (SELECT q.query_id, b.bucket FROM q
             |  JOIN buck b ON b.vec_id = q.query_id),
             |sc AS (SELECT q.query_id, e.vec_id,
             |    round(1.0 - sum(e.embedding[t.i]::DOUBLE * q.qv[t.i]::DOUBLE), 4) + 0.0 AS score
             |  FROM embeddings e, q, generate_series(1, 64) t(i)
             |  GROUP BY 1, 2),
             |gt AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) AS rk
             |    FROM sc) WHERE rk <= 10),
             |bucketed AS (SELECT s.query_id, s.vec_id, s.score FROM sc s
             |  JOIN buck b ON b.vec_id = s.vec_id
             |  JOIN qb ON qb.query_id = s.query_id
             |    AND bit_count(xor(b.bucket, qb.bucket)) <= 1),
             |cand AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) AS rk
             |    FROM bucketed) WHERE rk <= 10),
             |bs AS (SELECT query_id, count(*) AS n_probed FROM bucketed GROUP BY 1),
             |hits AS (SELECT g.query_id, count(*) AS n_hits FROM gt g
             |  JOIN cand c ON g.query_id = c.query_id AND g.vec_id = c.vec_id
             |  GROUP BY 1)
             |SELECT q.query_id, coalesce(bs.n_probed, 0) AS n_probed,
             |  coalesce(hits.n_hits, 0) AS n_hits,
             |  round(coalesce(hits.n_hits, 0) / 10.0, 2) + 0.0 AS recall_at_10
             |FROM q LEFT JOIN bs USING (query_id) LEFT JOIN hits USING (query_id)
             |ORDER BY query_id""".stripMargin)),

    // ----- IVF twin of the v_recall pair (r16 VERDICT #4): per-query
    // recall@10 vs nProbe (1/2/4 of 16 lists) against brute-force ground
    // truth — the probes→recall curve as ONE hash-checked query, so IVF
    // tuning is data, not a spec constant. Trained-KMeans lists are not
    // oracle-reproducible (ann_ivf_store_probe is recall-gated for exactly
    // that reason), so the coarse quantizer here is the deterministic
    // DATA-POINT variant: centroids = the embeddings of vec_id 0..15,
    // assignment = argmin 4dp-rounded squared L2, ties by list_id — same
    // layout and probe mechanics as the production IVF route, bit-
    // reproducible in SQL. Probe sets nest (top-1 ⊂ top-2 ⊂ top-4), so
    // recall is monotone in n_probe by construction — the curve reads
    // directly off the 15 output rows. -----
    Q("v_recall_ivf",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val cents = e.filter(col("vec_id") < 16)
          .select(col("vec_id").cast("int").as("list_id"), col("embedding").as("cv"))
        def l2sq(a: String, b: String) = round(expr(
          s"""aggregate(zip_with($a, $b,
             |  (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE)),
             |  CAST(0 AS DOUBLE), (acc, z) -> acc + z * z)""".stripMargin), 4) + 0.0
        val wA = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("d2"), col("list_id"))
        val assigned = e.select(col("vec_id"), col("embedding"))
          .crossJoin(broadcast(cents)) // 16 centroids — a dim
          .withColumn("d2", l2sq("embedding", "cv"))
          .withColumn("rk", row_number().over(wA)).filter(col("rk") === 1)
          .select("vec_id", "list_id")
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val wQ = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("qd2"), col("list_id"))
        val qLists = qs.crossJoin(broadcast(cents))
          .withColumn("qd2", l2sq("qv", "cv"))
          .withColumn("crk", row_number().over(wQ))
          .select("query_id", "list_id", "crk")
        val pairs = e.crossJoin(broadcast(qs))
          .withColumn("score", round(
            graft.search.VectorSearch.dotDistance(col("embedding"), col("qv")), 4) + 0.0)
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("score"), col("vec_id"))
        val gt = pairs.withColumn("rk", row_number().over(wS))
          .filter(col("rk") <= 10).select("query_id", "vec_id")
        val probes = s.range(3)
          .select(expr("CAST(1 << id AS INT)").as("n_probe")) // 1, 2, 4
        val candBase = pairs.join(assigned, "vec_id")
          .join(qLists, Seq("query_id", "list_id"))
          .crossJoin(broadcast(probes))
          .filter(col("crk") <= col("n_probe"))
        val wC = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id", "n_probe").orderBy(col("score"), col("vec_id"))
        val cand = candBase.withColumn("rk", row_number().over(wC))
          .filter(col("rk") <= 10).select("query_id", "n_probe", "vec_id")
        val probed = candBase.groupBy("query_id", "n_probe")
          .agg(count(lit(1)).as("n_probed"))
        val hits = gt.join(cand, Seq("query_id", "vec_id"))
          .groupBy("query_id", "n_probe").agg(count(lit(1)).as("n_hits"))
        qs.select("query_id").crossJoin(probes)
          .join(probed, Seq("query_id", "n_probe"), "left_outer")
          .join(hits, Seq("query_id", "n_probe"), "left_outer")
          .select(col("query_id"), col("n_probe"),
            coalesce(col("n_probed"), lit(0L)).as("n_probed"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (round(coalesce(col("n_hits"), lit(0L)) / 10.0, 2) + 0.0).as("recall_at_10"))
          .orderBy("query_id", "n_probe")
      },
      Some("""WITH c AS (SELECT vec_id::INT AS list_id, embedding AS cv
             |  FROM embeddings WHERE vec_id < 16),
             |a0 AS (SELECT e.vec_id, c.list_id,
             |    round(sum((e.embedding[t.i]::DOUBLE - c.cv[t.i]::DOUBLE)
             |            * (e.embedding[t.i]::DOUBLE - c.cv[t.i]::DOUBLE)), 4) + 0.0 AS d2
             |  FROM embeddings e, c, generate_series(1, 64) t(i) GROUP BY 1, 2),
             |asn AS (SELECT vec_id, list_id FROM (
             |    SELECT vec_id, list_id,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
             |    FROM a0) WHERE rk = 1),
             |q AS (SELECT vec_id AS query_id, embedding AS qv
             |  FROM embeddings WHERE vec_id < 5),
             |ql0 AS (SELECT q.query_id, c.list_id,
             |    round(sum((q.qv[t.i]::DOUBLE - c.cv[t.i]::DOUBLE)
             |            * (q.qv[t.i]::DOUBLE - c.cv[t.i]::DOUBLE)), 4) + 0.0 AS qd2
             |  FROM q, c, generate_series(1, 64) t(i) GROUP BY 1, 2),
             |ql AS (SELECT query_id, list_id,
             |    row_number() OVER (PARTITION BY query_id ORDER BY qd2, list_id) AS crk
             |  FROM ql0),
             |sc AS (SELECT q.query_id, e.vec_id,
             |    round(1.0 - sum(e.embedding[t.i]::DOUBLE * q.qv[t.i]::DOUBLE), 4) + 0.0 AS score
             |  FROM embeddings e, q, generate_series(1, 64) t(i) GROUP BY 1, 2),
             |gt AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) AS rk
             |    FROM sc) WHERE rk <= 10),
             |pr AS (SELECT unnest([1, 2, 4]) AS n_probe),
             |cb AS (SELECT s.query_id, pr.n_probe, s.vec_id, s.score
             |  FROM sc s JOIN asn ON asn.vec_id = s.vec_id
             |  JOIN ql ON ql.query_id = s.query_id AND ql.list_id = asn.list_id
             |  JOIN pr ON ql.crk <= pr.n_probe),
             |cand AS (SELECT query_id, n_probe, vec_id FROM (
             |    SELECT query_id, n_probe, vec_id,
             |      row_number() OVER (PARTITION BY query_id, n_probe ORDER BY score, vec_id) AS rk
             |    FROM cb) WHERE rk <= 10),
             |np AS (SELECT query_id, n_probe, count(*) AS n_probed FROM cb GROUP BY 1, 2),
             |hits AS (SELECT g.query_id, c2.n_probe, count(*) AS n_hits FROM gt g
             |  JOIN cand c2 ON c2.query_id = g.query_id AND c2.vec_id = g.vec_id
             |  GROUP BY 1, 2)
             |SELECT q.query_id, pr.n_probe,
             |  coalesce(np.n_probed, 0) AS n_probed,
             |  coalesce(hits.n_hits, 0) AS n_hits,
             |  round(coalesce(hits.n_hits, 0) / 10.0, 2) + 0.0 AS recall_at_10
             |FROM q CROSS JOIN pr
             |LEFT JOIN np ON np.query_id = q.query_id AND np.n_probe = pr.n_probe
             |LEFT JOIN hits ON hits.query_id = q.query_id AND hits.n_probe = pr.n_probe
             |ORDER BY q.query_id, pr.n_probe""".stripMargin)),

    // ----- recall-as-data for the PQ route, completing the probes→recall
    // family (v_recall_eval SRP / v_recall_multiprobe / v_recall_ivf): per-
    // query recall@10 of the ADC-ranked candidate list with exact rerank at
    // depth 10×{1,2,4}, against brute-force ground truth. Codebooks are the
    // SAME seeded-Lloyd discipline as ann_pq_topk (q6-quantized, every ADC
    // term a 1e-6 multiple ⇒ the rounded sum is exact on both engines), so
    // the whole curve — candidates, rerank, recall — is hash-checked.
    // Rerank depth is THE PQ deployment knob (ADC is lossy; the exact
    // rerank buys recall back); this query turns it into data. The ADC
    // sweep itself is one shuffle-free map pass (Similarity.pqAdcScores).
    Q("v_recall_pq",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val idx = Similarity.buildPqSeeded(e, "vec_id", "embedding",
          dim = 64, m = 8, k = 16)
        val qvs = e.filter(col("vec_id") < 5).orderBy("vec_id")
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
        val adc = Similarity.pqAdcScores(idx, "vec_id", qvs)
        val mults = s.range(3)
          .select(expr("CAST(1 << id AS INT)").as("rerank_mult")) // 1, 2, 4
        val wA = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id", "rerank_mult").orderBy(col("ad"), col("vec_id"))
        val cand = adc.crossJoin(broadcast(mults))
          .withColumn("rk", row_number().over(wA))
          .filter(col("rk") <= col("rerank_mult") * 10)
          .select("query_id", "rerank_mult", "vec_id")
        val qs = e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
        val pairs = e.crossJoin(broadcast(qs))
          .withColumn("score", round(
            graft.search.VectorSearch.dotDistance(col("embedding"), col("qv")), 4) + 0.0)
          .select("query_id", "vec_id", "score")
        val wS = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id").orderBy(col("score"), col("vec_id"))
        val gt = pairs.withColumn("rk", row_number().over(wS))
          .filter(col("rk") <= 10).select("query_id", "vec_id")
        val wR = org.apache.spark.sql.expressions.Window
          .partitionBy("query_id", "rerank_mult").orderBy(col("score"), col("vec_id"))
        val rer = cand.join(pairs, Seq("query_id", "vec_id"))
          .withColumn("rk", row_number().over(wR))
          .filter(col("rk") <= 10).select("query_id", "rerank_mult", "vec_id")
        val nC = cand.groupBy("query_id", "rerank_mult")
          .agg(count(lit(1)).as("n_cand"))
        val hits = gt.join(rer, Seq("query_id", "vec_id"))
          .groupBy("query_id", "rerank_mult").agg(count(lit(1)).as("n_hits"))
        qs.select("query_id").crossJoin(mults)
          .join(nC, Seq("query_id", "rerank_mult"), "left_outer")
          .join(hits, Seq("query_id", "rerank_mult"), "left_outer")
          .select(col("query_id"), col("rerank_mult"),
            coalesce(col("n_cand"), lit(0L)).as("n_cand"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"),
            (round(coalesce(col("n_hits"), lit(0L)) / 10.0, 2) + 0.0).as("recall_at_10"))
          .orderBy("query_id", "rerank_mult")
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
             |blocks AS (SELECT unnest(range(0, 8)) AS b),
             |ps AS (SELECT unnest(range(0, 8)) AS p),
             |ev AS (SELECT vec_id, bl.b, ps.p,
             |    CAST(embedding[bl.b * 8 + ps.p + 1] AS DOUBLE) AS v
             |  FROM e, blocks bl, ps),
             |seed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             |    embedding AS c FROM e ORDER BY vec_id LIMIT 16),
             |s0 AS (SELECT cid, bl.b, ps.p,
             |    CAST(c[bl.b * 8 + ps.p + 1] AS DOUBLE) AS v
             |  FROM seed, blocks bl, ps),
             |d0 AS (SELECT ev.vec_id, ev.b, s0.cid,
             |    round(sum((ev.v - s0.v) * (ev.v - s0.v)), 6) AS dist
             |  FROM ev JOIN s0 ON ev.b = s0.b AND ev.p = s0.p
             |  GROUP BY 1, 2, 3),
             |a0 AS (SELECT vec_id, b, cid FROM (
             |    SELECT vec_id, b, cid, row_number()
             |      OVER (PARTITION BY vec_id, b ORDER BY dist, cid) AS rn
             |    FROM d0) WHERE rn = 1),
             |m1 AS (SELECT a0.b, a0.cid, ev.p, round(avg(ev.v), 6) AS v
             |  FROM a0 JOIN ev ON ev.vec_id = a0.vec_id AND ev.b = a0.b
             |  GROUP BY 1, 2, 3),
             |c1 AS (SELECT s0.b, s0.cid, s0.p,
             |    coalesce(m1.v, round(s0.v, 6)) AS v
             |  FROM s0 LEFT JOIN m1
             |    ON s0.b = m1.b AND s0.cid = m1.cid AND s0.p = m1.p),
             |d1 AS (SELECT ev.vec_id, ev.b, c1.cid,
             |    round(sum((ev.v - c1.v) * (ev.v - c1.v)), 6) AS dist
             |  FROM ev JOIN c1 ON ev.b = c1.b AND ev.p = c1.p
             |  GROUP BY 1, 2, 3),
             |code AS (SELECT vec_id, b, cid FROM (
             |    SELECT vec_id, b, cid, row_number()
             |      OVER (PARTITION BY vec_id, b ORDER BY dist, cid) AS rn
             |    FROM d1) WHERE rn = 1),
             |qs AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < 5),
             |qev AS (SELECT qs.query_id, bl.b, ps.p,
             |    CAST(qv[bl.b * 8 + ps.p + 1] AS DOUBLE) AS v
             |  FROM qs, blocks bl, ps),
             |qd AS (SELECT qev.query_id, c1.b, c1.cid,
             |    round(sum((qev.v - c1.v) * (qev.v - c1.v)), 6) AS dist
             |  FROM qev JOIN c1 ON qev.b = c1.b AND qev.p = c1.p
             |  GROUP BY 1, 2, 3),
             |adc AS (SELECT qd.query_id, code.vec_id, round(sum(qd.dist), 6) AS ad
             |  FROM code JOIN qd ON qd.b = code.b AND qd.cid = code.cid
             |  GROUP BY 1, 2),
             |mult AS (SELECT unnest([1, 2, 4]) AS rerank_mult),
             |cand AS (SELECT query_id, rerank_mult, vec_id FROM (
             |    SELECT a.query_id, m.rerank_mult, a.vec_id,
             |      row_number() OVER (PARTITION BY a.query_id, m.rerank_mult
             |                         ORDER BY a.ad, a.vec_id) AS rk
             |    FROM adc a CROSS JOIN mult m) WHERE rk <= 10 * rerank_mult),
             |sc AS (SELECT qs.query_id, e2.vec_id,
             |    round(1.0 - sum(e2.embedding[t.i]::DOUBLE * qs.qv[t.i]::DOUBLE), 4) + 0.0 AS score
             |  FROM embeddings e2, qs, generate_series(1, 64) t(i) GROUP BY 1, 2),
             |gt AS (SELECT query_id, vec_id FROM (
             |    SELECT query_id, vec_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY score, vec_id) AS rk
             |    FROM sc) WHERE rk <= 10),
             |rr AS (SELECT query_id, rerank_mult, vec_id FROM (
             |    SELECT c2.query_id, c2.rerank_mult, c2.vec_id,
             |      row_number() OVER (PARTITION BY c2.query_id, c2.rerank_mult
             |                         ORDER BY s2.score, c2.vec_id) AS rk
             |    FROM cand c2 JOIN sc s2
             |      ON s2.query_id = c2.query_id AND s2.vec_id = c2.vec_id) WHERE rk <= 10),
             |nc AS (SELECT query_id, rerank_mult, count(*) AS n_cand FROM cand GROUP BY 1, 2),
             |hits AS (SELECT g.query_id, r2.rerank_mult, count(*) AS n_hits FROM gt g
             |  JOIN rr r2 ON r2.query_id = g.query_id AND r2.vec_id = g.vec_id
             |  GROUP BY 1, 2)
             |SELECT q2.query_id, m2.rerank_mult,
             |  coalesce(nc.n_cand, 0) AS n_cand,
             |  coalesce(hits.n_hits, 0) AS n_hits,
             |  round(coalesce(hits.n_hits, 0) / 10.0, 2) + 0.0 AS recall_at_10
             |FROM qs q2 CROSS JOIN mult m2
             |LEFT JOIN nc ON nc.query_id = q2.query_id AND nc.rerank_mult = m2.rerank_mult
             |LEFT JOIN hits ON hits.query_id = q2.query_id AND hits.rerank_mult = m2.rerank_mult
             |ORDER BY q2.query_id, m2.rerank_mult""".stripMargin)),

    Q("ann_lsh_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qv = e.filter(col("vec_id") === 0)
          .select(col("embedding").as("qv"))
        val withQ = e.crossJoin(broadcast(qv))
        val bucketed = withQ
          .withColumn("bucket", Similarity.srpBucket("embedding", 64, 8))
          .withColumn("qbucket", Similarity.srpBucket("qv", 64, 8))
        bucketed.filter(col("bucket") === col("qbucket"))
          .withColumn("score",
            round(graft.search.VectorSearch.dotDistance(col("embedding"), col("qv")), 4) + 0.0)
          .orderBy("score", "vec_id").limit(10)
          .select("vec_id", "score")
      },
      Some(SrpTopkOracle)),

    // ----- persisted SRP probe: the SAME bucket top-k as ann_lsh_topk but
    // through the on-disk abucket-partitioned index — build once, probe =
    // one partition read. Deterministic md5 hyperplanes make the PERSISTED
    // path hash-checkable against the oracle (IVF's trained lists cannot
    // be), so this is the oracle-gated twin of ann_ivf_store_probe. -----
    Q("ann_srp_store_probe",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qv = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0)
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ann-srp-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        val st = new graft.store.SrpIndexStore(s, dir, dim = 64, planes = 8,
          Seq("vec_id"), "embedding")
        // zero jobs when nothing changed: the corpus count is
        // signature-memoized (SourceStamp), the index rowCount a manifest read
        val nCorpus = graft.core.SourceStamp.memoLong(
          s"$d/embeddings.parquet", "count")(e.count())
        if (!st.exists || st.rowCount() != nCorpus) st.rebuild(e)
        st.probe(qv, k = 10)
          .select(col("vec_id"), (round(col("score"), 4) + 0.0).as("score"))
      },
      Some(SrpTopkOracle), bench = true),

    // ----- embedding near-dup, LSH-blocked (the linear-ish scale path) -----
    Q("d_embed_dup_lsh",
      (s, d) => Similarity.lshBlockedPairs(Tables.embeddings(s, d),
          "vec_id", "embedding", 64, planes = 8, threshold = 0.3)
        .orderBy(col("cos").desc, col("id_a"), col("id_b"))
        .limit(100),
      Some("""WITH comp AS (SELECT p.p, j.j,
             |    CASE WHEN CAST(concat('0x', substr(md5(p.p || ':' || j.j), 1, 15)) AS BIGINT) % 2 = 0
             |         THEN 1.0 ELSE -1.0 END AS c
             |  FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, 64)) AS j) j),
             |dotp AS (SELECT e.vec_id, c.p, sum(e.embedding[c.j + 1]::DOUBLE * c.c) AS sv
             |  FROM embeddings e, comp c GROUP BY 1, 2),
             |buck AS (SELECT vec_id,
             |    sum(CASE WHEN sv > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
             |  FROM dotp GROUP BY 1),
             |p2 AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |    ea.embedding AS va, eb.embedding AS vb
             |  FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             |  JOIN embeddings ea ON ea.vec_id = a.vec_id
             |  JOIN embeddings eb ON eb.vec_id = b.vec_id),
             |dt AS (SELECT id_a, id_b,
             |    sum(va[t.i]::DOUBLE * vb[t.i]::DOUBLE) AS dot,
             |    sum(va[t.i]::DOUBLE * va[t.i]::DOUBLE) AS na,
             |    sum(vb[t.i]::DOUBLE * vb[t.i]::DOUBLE) AS nb
             |  FROM p2, generate_series(1, 64) t(i) GROUP BY 1, 2),
             |c AS (SELECT id_a, id_b, round(dot / (sqrt(na) * sqrt(nb)), 4) AS cos FROM dt)
             |SELECT id_a, id_b, cos FROM c WHERE cos >= 0.3
             |ORDER BY cos DESC, id_a, id_b LIMIT 100""".stripMargin),
      bench = true),

    // ----- SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv
    // 2303.09540 — public): cluster embeddings (here: deterministic SRP
    // buckets standing in for the paper's k-means, which keeps the whole
    // pipeline oracle-replayable), compute each cluster's centroid, keep
    // the member closest to it as the representative. One explode+avg
    // shuffle for centroids, one broadcast-joined dot per member — at
    // 100 TB both stages are linear in the corpus and the cluster step is
    // the same persisted-bucket layout the ANN stores use. -----
    // ----- cluster-balanced selection (D4-style): one deterministic Lloyd
    // round from fixed seeds over the embedding corpus, then keep the 3
    // most-central members per cluster — the "diversify by cluster, keep
    // prototypes" selection stage of an embedding-curated training mix.
    // FULLY oracled: distances and centroid components are quantized
    // HALF_UP at 1e-6 on both engines before every comparison, so the
    // SQL replay (unnest-join distances, argmin by (dist, cid), mean,
    // re-assign, rank) hash-matches the Spark UDF path exactly. -----
    Q("v_cluster_select",
      (s, d) => Similarity.clusterSelect(
          Tables.embeddings(s, d), "vec_id", "embedding", 8, 3)
        .orderBy("cluster", "pick_rank"),
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
             |seed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             |    embedding AS c FROM e ORDER BY vec_id LIMIT 8),
             |ev AS (SELECT vec_id, u.i AS pos,
             |    CAST(embedding[u.i + 1] AS DOUBLE) AS v
             |  FROM e, (SELECT unnest(range(0, 64)) AS i) u),
             |s0 AS (SELECT cid, u.i AS pos, CAST(c[u.i + 1] AS DOUBLE) AS v
             |  FROM seed, (SELECT unnest(range(0, 64)) AS i) u),
             |d0 AS (SELECT ev.vec_id, s0.cid,
             |    round(sum((ev.v - s0.v) * (ev.v - s0.v)), 6) AS dist
             |  FROM ev JOIN s0 ON ev.pos = s0.pos GROUP BY 1, 2),
             |a0 AS (SELECT vec_id, cid FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             |    FROM d0) WHERE rn = 1),
             |m1 AS (SELECT a0.cid, ev.pos, round(avg(ev.v), 6) AS v
             |  FROM a0 JOIN ev USING (vec_id) GROUP BY 1, 2),
             |c1 AS (SELECT s0.cid, s0.pos, coalesce(m1.v, round(s0.v, 6)) AS v
             |  FROM s0 LEFT JOIN m1 ON s0.cid = m1.cid AND s0.pos = m1.pos),
             |d1 AS (SELECT ev.vec_id, c1.cid,
             |    round(sum((ev.v - c1.v) * (ev.v - c1.v)), 6) AS dist
             |  FROM ev JOIN c1 ON ev.pos = c1.pos GROUP BY 1, 2),
             |asg AS (SELECT vec_id, cid, dist FROM (
             |    SELECT vec_id, cid, dist,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             |    FROM d1) WHERE rn = 1),
             |ranked AS (SELECT cid AS cluster, vec_id, dist,
             |    row_number() OVER (PARTITION BY cid ORDER BY dist, vec_id) AS pick_rank,
             |    count(*) OVER (PARTITION BY cid) AS cluster_size FROM asg)
             |SELECT cluster, CAST(pick_rank AS INT) AS pick_rank, vec_id,
             |  dist, cluster_size
             |FROM ranked WHERE pick_rank <= 3
             |ORDER BY cluster, pick_rank""".stripMargin)),

    Q("d_semdedup",
      (s, d) => {
        val e = Tables.embeddings(s, d)
          .withColumn("bucket", Similarity.srpBucket("embedding", 64, 8))
        val cent = e
          .select(col("bucket"), posexplode(col("embedding")).as(Seq("pos", "v")))
          .groupBy("bucket", "pos").agg(avg("v").as("m"))
          .groupBy("bucket").agg(expr(
            "transform(array_sort(collect_list(struct(pos, m))), x -> x.m)")
            .as("centroid"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket")
          .orderBy(round(col("sim"), 6).desc, col("vec_id"))
        e.join(broadcast(cent), "bucket") // centroids: one row per bucket
          .withColumn("sim", expr(
            "aggregate(zip_with(embedding, centroid, (a, b) -> CAST(a AS DOUBLE) * b), 0D, (acc, x) -> acc + x)"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_members", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("bucket")))
          .filter(col("rn") === 1)
          .select(col("bucket"), col("vec_id").as("kept_vec_id"),
            col("n_members"), (round(col("sim"), 4) + 0.0).as("kept_sim"))
          .orderBy("bucket")
      },
      Some("""WITH comp AS (SELECT p.p, j.j,
             |    CASE WHEN CAST(concat('0x', substr(md5(p.p || ':' || j.j), 1, 15)) AS BIGINT) % 2 = 0
             |         THEN 1.0 ELSE -1.0 END AS c
             |  FROM (SELECT unnest(range(0, 8)) AS p) p, (SELECT unnest(range(0, 64)) AS j) j),
             |dotp AS (SELECT e.vec_id, c.p, sum(e.embedding[c.j + 1]::DOUBLE * c.c) AS sv
             |  FROM embeddings e, comp c GROUP BY 1, 2),
             |buck AS (SELECT vec_id,
             |    sum(CASE WHEN sv > 0 THEN (1::BIGINT << p) ELSE 0 END) AS bucket
             |  FROM dotp GROUP BY 1),
             |cent AS (SELECT b.bucket, t.i, avg(e.embedding[t.i]::DOUBLE) AS m
             |  FROM embeddings e JOIN buck b ON b.vec_id = e.vec_id,
             |       generate_series(1, 64) t(i)
             |  GROUP BY 1, 2),
             |sim AS (SELECT b.vec_id, b.bucket,
             |    sum(e.embedding[c.i]::DOUBLE * c.m) AS s
             |  FROM embeddings e
             |  JOIN buck b ON b.vec_id = e.vec_id
             |  JOIN cent c ON c.bucket = b.bucket
             |  GROUP BY 1, 2),
             |r AS (SELECT bucket, vec_id, s,
             |        row_number() OVER (PARTITION BY bucket
             |          ORDER BY round(s, 6) DESC, vec_id) AS rn,
             |        count(*) OVER (PARTITION BY bucket) AS n_members
             |      FROM sim)
             |SELECT CAST(bucket AS BIGINT) AS bucket, vec_id AS kept_vec_id,
             |       n_members, round(s, 4) + 0.0 AS kept_sim
             |FROM r WHERE rn = 1 ORDER BY bucket""".stripMargin)),

    // ----- IVF ANN, fully oracled: the coarse quantizer is the SEEDED
    // deterministic twin (smallest-id seeds + one q6-quantized Lloyd round,
    // the v_cluster_select discipline), so the ENTIRE assign→probe→rerank
    // chain is replayed by SQL — centroid training, list assignment, probe
    // selection (4 of 16 lists by quantized distance), and the in-list dot
    // rerank all hash-checked. The MLlib-trained quantizer stays the
    // production path (ann_ivf_store_probe, recall-gated); this pins the
    // CHAIN's semantics, with the recall gates as the quality floor. -----
    Q("ann_ivf_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qv = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val (assigned, cents) =
          Similarity.buildIvfSeeded(e, "vec_id", "embedding", nLists = 16)
        Similarity.ivfTopKSeeded(assigned, cents, "vec_id", "embedding",
            qv, nProbe = 4, k = 10)
          .select(col("vec_id"), (round(col("score"), 4) + 0.0).as("score"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
             |seed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             |    embedding AS c FROM e ORDER BY vec_id LIMIT 16),
             |ev AS (SELECT vec_id, u.i AS pos,
             |    CAST(embedding[u.i + 1] AS DOUBLE) AS v
             |  FROM e, (SELECT unnest(range(0, 64)) AS i) u),
             |s0 AS (SELECT cid, u.i AS pos, CAST(c[u.i + 1] AS DOUBLE) AS v
             |  FROM seed, (SELECT unnest(range(0, 64)) AS i) u),
             |d0 AS (SELECT ev.vec_id, s0.cid,
             |    round(sum((ev.v - s0.v) * (ev.v - s0.v)), 6) AS dist
             |  FROM ev JOIN s0 ON ev.pos = s0.pos GROUP BY 1, 2),
             |a0 AS (SELECT vec_id, cid FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             |    FROM d0) WHERE rn = 1),
             |m1 AS (SELECT a0.cid, ev.pos, round(avg(ev.v), 6) AS v
             |  FROM a0 JOIN ev USING (vec_id) GROUP BY 1, 2),
             |c1 AS (SELECT s0.cid, s0.pos, coalesce(m1.v, round(s0.v, 6)) AS v
             |  FROM s0 LEFT JOIN m1 ON s0.cid = m1.cid AND s0.pos = m1.pos),
             |d1 AS (SELECT ev.vec_id, c1.cid,
             |    round(sum((ev.v - c1.v) * (ev.v - c1.v)), 6) AS dist
             |  FROM ev JOIN c1 ON ev.pos = c1.pos GROUP BY 1, 2),
             |asg AS (SELECT vec_id, cid FROM (
             |    SELECT vec_id, cid,
             |      row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
             |    FROM d1) WHERE rn = 1),
             |qe AS (SELECT u.i AS pos, CAST(embedding[u.i + 1] AS DOUBLE) AS v
             |  FROM embeddings, (SELECT unnest(range(0, 64)) AS i) u
             |  WHERE vec_id = 0),
             |cd AS (SELECT c1.cid,
             |    round(sum((qe.v - c1.v) * (qe.v - c1.v)), 6) AS dist
             |  FROM qe JOIN c1 ON qe.pos = c1.pos GROUP BY 1),
             |probes AS (SELECT cid FROM cd ORDER BY dist, cid LIMIT 4),
             |cand AS (SELECT vec_id FROM asg
             |  WHERE cid IN (SELECT cid FROM probes)),
             |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
             |sc AS (SELECT e2.vec_id,
             |    1.0 - sum(e2.embedding[t.i]::DOUBLE * q.qv[t.i]::DOUBLE) AS raw
             |  FROM embeddings e2, q, generate_series(1, 64) t(i)
             |  WHERE e2.vec_id IN (SELECT vec_id FROM cand) GROUP BY 1)
             |SELECT vec_id, round(raw, 4) + 0.0 AS score FROM sc
             |ORDER BY raw, vec_id LIMIT 10""".stripMargin)),

    // ----- persisted IVF probe (the Engine's flagship ANN read path): the
    // index is BUILT ONCE into a list_id-partitioned parquet store, and the
    // benched work is the probe — nProbe partitions read (PartitionFilters
    // pinned in PlanSpec), rerank inside them. KMeans centroids are not
    // SQL-expressible → rows-only; recall is gated in StoreSearchSpec. -----
    Q("ann_ivf_store_probe",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qv = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val dir = s"${System.getProperty("java.io.tmpdir")}/graft-ann-ivf-" +
          d.replaceAll("[^a-zA-Z0-9._-]", "_")
        val st = new graft.store.AnnIndexStore(s, dir, Seq("vec_id"), "embedding")
        // build once per (tmpdir, sf): warm pass builds, timed pass probes;
        // zero-job probe sides when nothing changed (memoized corpus count,
        // manifest row count)
        val nCorpus = graft.core.SourceStamp.memoLong(
          s"$d/embeddings.parquet", "count")(e.count())
        if (!st.exists || st.rowCount() != nCorpus) st.rebuild(e, nLists = 16)
        st.probe(qv, nProbe = 8, k = 10)
          .select(col("vec_id"), (round(col("score"), 4) + 0.0).as("score"))
      },
      None, bench = true),

    // ----- PQ ANN, fully oracled: per-block codebooks from the SAME
    // seeded-Lloyd discipline (per block, seeds = the 16 smallest-id
    // SUBVECTORS, one q6-quantized round), so encoding AND the asymmetric-
    // distance query (per-block q6 lookup table, re-quantized sum — each
    // term a 1e-6 multiple, so the rounded sum is exact on both engines)
    // replay in SQL. MLlib-trained codebooks remain spec-recall-gated. -----
    Q("ann_pq_topk",
      (s, d) => {
        val e = Tables.embeddings(s, d)
        val qv = e.filter(col("vec_id") === 0)
          .select("embedding").head().getSeq[Float](0).toArray
        val idx = Similarity.buildPqSeeded(e, "vec_id", "embedding",
          dim = 64, m = 8, k = 16)
        Similarity.pqTopKSeeded(idx, "vec_id", qv, kTop = 10)
      },
      Some("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
             |blocks AS (SELECT unnest(range(0, 8)) AS b),
             |ps AS (SELECT unnest(range(0, 8)) AS p),
             |ev AS (SELECT vec_id, bl.b, ps.p,
             |    CAST(embedding[bl.b * 8 + ps.p + 1] AS DOUBLE) AS v
             |  FROM e, blocks bl, ps),
             |seed AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
             |    embedding AS c FROM e ORDER BY vec_id LIMIT 16),
             |s0 AS (SELECT cid, bl.b, ps.p,
             |    CAST(c[bl.b * 8 + ps.p + 1] AS DOUBLE) AS v
             |  FROM seed, blocks bl, ps),
             |d0 AS (SELECT ev.vec_id, ev.b, s0.cid,
             |    round(sum((ev.v - s0.v) * (ev.v - s0.v)), 6) AS dist
             |  FROM ev JOIN s0 ON ev.b = s0.b AND ev.p = s0.p
             |  GROUP BY 1, 2, 3),
             |a0 AS (SELECT vec_id, b, cid FROM (
             |    SELECT vec_id, b, cid, row_number()
             |      OVER (PARTITION BY vec_id, b ORDER BY dist, cid) AS rn
             |    FROM d0) WHERE rn = 1),
             |m1 AS (SELECT a0.b, a0.cid, ev.p, round(avg(ev.v), 6) AS v
             |  FROM a0 JOIN ev ON ev.vec_id = a0.vec_id AND ev.b = a0.b
             |  GROUP BY 1, 2, 3),
             |c1 AS (SELECT s0.b, s0.cid, s0.p,
             |    coalesce(m1.v, round(s0.v, 6)) AS v
             |  FROM s0 LEFT JOIN m1
             |    ON s0.b = m1.b AND s0.cid = m1.cid AND s0.p = m1.p),
             |d1 AS (SELECT ev.vec_id, ev.b, c1.cid,
             |    round(sum((ev.v - c1.v) * (ev.v - c1.v)), 6) AS dist
             |  FROM ev JOIN c1 ON ev.b = c1.b AND ev.p = c1.p
             |  GROUP BY 1, 2, 3),
             |code AS (SELECT vec_id, b, cid FROM (
             |    SELECT vec_id, b, cid, row_number()
             |      OVER (PARTITION BY vec_id, b ORDER BY dist, cid) AS rn
             |    FROM d1) WHERE rn = 1),
             |qe AS (SELECT bl.b, ps.p,
             |    CAST(embedding[bl.b * 8 + ps.p + 1] AS DOUBLE) AS v
             |  FROM e, blocks bl, ps WHERE vec_id = 0),
             |qd AS (SELECT c1.b, c1.cid,
             |    round(sum((qe.v - c1.v) * (qe.v - c1.v)), 6) AS dist
             |  FROM qe JOIN c1 ON qe.b = c1.b AND qe.p = c1.p
             |  GROUP BY 1, 2),
             |approx AS (SELECT code.vec_id, round(sum(qd.dist), 6) AS ad
             |  FROM code JOIN qd ON qd.b = code.b AND qd.cid = code.cid
             |  GROUP BY 1)
             |SELECT vec_id, round(ad, 4) + 0.0 AS approx_dist FROM approx
             |ORDER BY ad, vec_id LIMIT 10""".stripMargin)),

    // ----- multimodal: binary payload + typed metadata projection -----
    Q("m_binary_meta",
      (s, d) => Multimodal.fromDocuments(Tables.documents(s, d), "doc_id", "text", "source")
        .select(col("media_id"), col("modality"),
          col("meta.bytes").as("n_bytes"), md5(col("payload")).as("payload_md5"))
        .orderBy("media_id"),
      Some("""SELECT doc_id AS media_id,
             |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
             |  length(text) AS n_bytes, md5(text) AS payload_md5
             |FROM documents ORDER BY media_id""".stripMargin)),

    // ----- multimodal: frame sampling (contiguous byte ranges) -----
    Q("m_frame_sample",
      (s, d) => Multimodal.frameSample(
          Multimodal.fromDocuments(Tables.documents(s, d), "doc_id", "text", "source"), 4)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_bytes"), md5(col("frame")).as("frame_md5"))
        .orderBy("media_id", "frame_idx"),
      Some("""WITH f AS (SELECT doc_id AS media_id, length(text) // 4 AS fl, text
             |  FROM documents),
             |fr AS (
             |  SELECT media_id, t.i AS frame_idx,
             |    CASE WHEN t.i < 3 THEN substr(text, t.i * fl + 1, fl)
             |         ELSE substr(text, 3 * fl + 1, length(text) - 3 * fl) END AS frame
             |  FROM f, (SELECT unnest(range(0, 4)) AS i) t)
             |SELECT media_id, frame_idx, length(frame) AS frame_bytes, md5(frame) AS frame_md5
             |FROM fr ORDER BY media_id, frame_idx""".stripMargin)),

    // ----- multimodal: REAL image decode. Payloads are genuine 24-bit BMP
    // bytes (header, bottom-up rows, 4-byte stride padding) built from a
    // closed-form pixel rule; Spark PARSES the bytes (Multimodal.decodeBmp,
    // mapPartitions) while the oracle computes the same statistics from the
    // pixel rule directly — a stride, padding, or row-order bug in the
    // parser breaks the hash. probe_luma pins pixel (1,2) specifically so a
    // row-order mistake can't hide inside the permutation-invariant sum. -----
    // ----- multimodal: REAL audio decode — the WAV twin of m_decode_bmp.
    // Payloads are genuine RIFF/PCM bytes (16-bit mono LE, odd docIds carry
    // a junk LIST chunk so the decoder's chunk walk is exercised, not just
    // a fixed-offset read); Spark parses bytes (Multimodal.decodeWav,
    // mapPartitions) while the oracle computes the same statistics from the
    // closed-form sample rule. probe_sample pins sample i=3 so an
    // endianness or offset bug can't hide inside the sum. -----
    Q("m_decode_wav",
      (s, d) => Multimodal.decodeWavFeatures(
          Multimodal.wavFromDocuments(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("sum_samples"), col("probe_sample"),
          col("max_abs"))
        .orderBy("media_id"),
      Some("""WITH p AS (SELECT doc_id, doc_id % 256 AS did,
             |    16 + doc_id % 17 AS n FROM documents),
             |s AS (SELECT p.doc_id, p.n, t.i,
             |    ((p.did * 31 + t.i * 997) % 65536) - 32768 AS v
             |  FROM p, (SELECT unnest(range(0, 33)) AS i) t WHERE t.i < p.n)
             |SELECT doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
             |  CAST(1 AS BIGINT) AS channels, CAST(max(n) AS BIGINT) AS n_samples,
             |  CAST(sum(v) AS BIGINT) AS sum_samples,
             |  CAST(max(CASE WHEN i = 3 THEN v END) AS BIGINT) AS probe_sample,
             |  CAST(max(abs(v)) AS BIGINT) AS max_abs
             |FROM s GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("m_decode_bmp",
      (s, d) => Multimodal.decodeBmpFeatures(
          Multimodal.bmpFromDocuments(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_px"),
          col("sum_luma"), col("probe_luma"))
        .orderBy("media_id"),
      Some("""WITH dims AS (SELECT doc_id, doc_id % 256 AS did,
             |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
             |px AS (SELECT doc_id, w, h, xs.x, ys.y,
             |    (did + xs.x * ys.y) % 256 AS r,
             |    (2 * did + 3 * xs.x + 5 * ys.y) % 256 AS g,
             |    (did + 7 * xs.x + 13 * ys.y) % 256 AS b
             |  FROM dims,
             |    (SELECT unnest(range(0, 8)) AS x) xs,
             |    (SELECT unnest(range(0, 6)) AS y) ys
             |  WHERE xs.x < w AND ys.y < h),
             |lum AS (SELECT doc_id, w, h, x, y,
             |    (299 * r + 587 * g + 114 * b) // 1000 AS luma FROM px)
             |SELECT doc_id AS media_id, w AS width, h AS height,
             |  count(*) AS n_px, CAST(sum(luma) AS BIGINT) AS sum_luma,
             |  max(CASE WHEN x = 1 AND y = 2 THEN luma END) AS probe_luma
             |FROM lum GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: REAL PNG decode — the compressed-image twin of
    // m_decode_bmp, the dominant web-corpus image format. Payloads are
    // genuine PNGs (zlib IDAT over filtered scanlines, row y filtered
    // with type y % 5 so all five PNG filters are decode-reversed, IDAT
    // split across chunks on odd ids, CRC-verified chunk walk); the
    // oracle recomputes the statistics from the (x, y) pixel rule without
    // touching bytes, so a filter-recon, inflate, or chunk-walk bug
    // breaks the hash. probe = pixel (1,2). -----
    Q("m_decode_png",
      (s, d) => Multimodal.decodePngFeatures(
          Multimodal.pngFromDocuments(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_px"),
          col("sum_luma"), col("probe_luma"))
        .orderBy("media_id"),
      Some("""WITH dims AS (SELECT doc_id, doc_id % 256 AS did,
             |    5 + doc_id % 4 AS w, 4 + doc_id % 3 AS h FROM documents),
             |px AS (SELECT doc_id, w, h, xs.x, ys.y,
             |    (did + xs.x * ys.y) % 256 AS r,
             |    (2 * did + 3 * xs.x + 5 * ys.y) % 256 AS g,
             |    (did + 7 * xs.x + 13 * ys.y) % 256 AS b
             |  FROM dims,
             |    (SELECT unnest(range(0, 9)) AS x) xs,
             |    (SELECT unnest(range(0, 7)) AS y) ys
             |  WHERE xs.x < w AND ys.y < h),
             |lum AS (SELECT doc_id, w, h, x, y,
             |    (299 * r + 587 * g + 114 * b) // 1000 AS luma FROM px)
             |SELECT doc_id AS media_id, w AS width, h AS height,
             |  count(*) AS n_px, CAST(sum(luma) AS BIGINT) AS sum_luma,
             |  max(CASE WHEN x = 1 AND y = 2 THEN luma END) AS probe_luma
             |FROM lum GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: REAL G.711 μ-law decode — the telephony/ASR audio
    // encoding (WAV format tag 7). The oracle expands the SAME closed-form
    // bytes through the public μ-law formula, so the complement/exponent/
    // mantissa arithmetic and the RIFF walk are both pinned. -----
    Q("m_decode_mulaw",
      (s, d) => Multimodal.decodeMulawFeatures(
          Multimodal.mulawFromDocuments(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("sum_samples"), col("probe_sample"), col("max_abs"))
        .orderBy("media_id"),
      Some("""WITH dims AS (SELECT doc_id, doc_id % 256 AS did,
             |    40 + doc_id % 20 AS n FROM documents),
             |sm AS (SELECT doc_id, n, t.i,
             |    255 - ((did * 7 + t.i * 13) % 256) AS c
             |  FROM dims, (SELECT unnest(range(0, 60)) AS i) t WHERE t.i < n),
             |pcm AS (SELECT doc_id, n, i,
             |    CASE WHEN c >= 128 THEN -(((((c % 16) * 8 + 132)
             |        * CAST(pow(2, (c // 16) % 8) AS BIGINT))) - 132)
             |    ELSE (((c % 16) * 8 + 132)
             |        * CAST(pow(2, (c // 16) % 8) AS BIGINT)) - 132 END AS s
             |  FROM sm)
             |SELECT doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate,
             |  CAST(max(n) AS BIGINT) AS n_samples,
             |  CAST(sum(s) AS BIGINT) AS sum_samples,
             |  CAST(max(CASE WHEN i = 2 THEN s END) AS BIGINT) AS probe_sample,
             |  CAST(max(abs(s)) AS BIGINT) AS max_abs
             |FROM pcm GROUP BY 1 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: REAL TIFF decode — the scanned-document corpus
    // format. Genuine TIFF 6.0 containers, little-endian for even ids
    // and BIG-endian for odd (the byte-order branch is load-bearing),
    // IFD tag walk with SHORT/LONG and inline/offset values, strip
    // gather; oracle = the closed-form pixel rule. -----
    Q("m_decode_tiff",
      (s, d) => Multimodal.decodeTiffFeatures(
          Multimodal.tiffFromDocuments(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_px"),
          col("sum_luma"), col("probe_luma"))
        .orderBy("media_id"),
      Some("""WITH dims AS (SELECT doc_id, doc_id % 256 AS did,
             |    7 + doc_id % 3 AS w, 5 + doc_id % 4 AS h FROM documents),
             |px AS (SELECT doc_id, w, h, xs.x, ys.y,
             |    (did + xs.x * ys.y) % 256 AS r,
             |    (2 * did + 3 * xs.x + 5 * ys.y) % 256 AS g,
             |    (did + 7 * xs.x + 13 * ys.y) % 256 AS b
             |  FROM dims,
             |    (SELECT unnest(range(0, 10)) AS x) xs,
             |    (SELECT unnest(range(0, 9)) AS y) ys
             |  WHERE xs.x < w AND ys.y < h),
             |lum AS (SELECT doc_id, w, h, x, y,
             |    (299 * r + 587 * g + 114 * b) // 1000 AS luma FROM px)
             |SELECT doc_id AS media_id, w AS width, h AS height,
             |  count(*) AS n_px, CAST(sum(luma) AS BIGINT) AS sum_luma,
             |  max(CASE WHEN x = 1 AND y = 2 THEN luma END) AS probe_luma
             |FROM lum GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: REAL bilinear resize — the pixel-grid resampling
    // stage of an image-pipeline (decode → resize → feature). Fixed-point
    // 8.8 align-corners bilinear over the BMP gradient fixtures, then the
    // standard decode-stats stage over the RESIZED payload — so the oracle
    // (which replays the integer resample rule in SQL, never touching
    // bytes) pins encode → resize → re-encode → decode end-to-end. Probe
    // pixel (1, min(2, oh-1)) catches row-order / weight-transpose bugs a
    // sum would hide. -----
    Q("m_image_resize",
      (s, d) => Multimodal.decodeBmpFeatures(
          Multimodal.resizeBmp(
            Multimodal.bmpFromDocuments(Tables.documents(s, d), "doc_id"),
            id => (2 + id % 3).toInt, id => (2 + id % 2).toInt))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_px"),
          col("sum_luma"), col("probe_luma"))
        .orderBy("media_id"),
      Some("""WITH p AS (SELECT doc_id, doc_id % 256 AS did,
             |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h,
             |    2 + doc_id % 3 AS ow, 2 + doc_id % 2 AS oh FROM documents),
             |d AS (SELECT p.*, xs.dx, ys.dy FROM p,
             |    (SELECT unnest(range(0, 4)) AS dx) xs,
             |    (SELECT unnest(range(0, 3)) AS dy) ys
             |  WHERE xs.dx < ow AND ys.dy < oh),
             |c AS (SELECT doc_id, did, w, h, ow, oh, dx, dy,
             |    (dx * (w - 1) * 256) // (ow - 1) AS fx,
             |    (dy * (h - 1) * 256) // (oh - 1) AS fy FROM d),
             |c2 AS (SELECT doc_id, did, ow, oh, dx, dy,
             |    fx // 256 AS x0, fx % 256 AS xf,
             |    least(fx // 256 + 1, w - 1) AS x1,
             |    fy // 256 AS y0, fy % 256 AS yf,
             |    least(fy // 256 + 1, h - 1) AS y1 FROM c),
             |v AS (SELECT doc_id, ow, oh, dx, dy,
             |    ((256 - xf) * (256 - yf) * ((did + x0 * y0) % 256)
             |     + xf * (256 - yf) * ((did + x1 * y0) % 256)
             |     + (256 - xf) * yf * ((did + x0 * y1) % 256)
             |     + xf * yf * ((did + x1 * y1) % 256) + 32768) // 65536 AS r,
             |    ((256 - xf) * (256 - yf) * ((2 * did + 3 * x0 + 5 * y0) % 256)
             |     + xf * (256 - yf) * ((2 * did + 3 * x1 + 5 * y0) % 256)
             |     + (256 - xf) * yf * ((2 * did + 3 * x0 + 5 * y1) % 256)
             |     + xf * yf * ((2 * did + 3 * x1 + 5 * y1) % 256) + 32768) // 65536 AS g,
             |    ((256 - xf) * (256 - yf) * ((did + 7 * x0 + 13 * y0) % 256)
             |     + xf * (256 - yf) * ((did + 7 * x1 + 13 * y0) % 256)
             |     + (256 - xf) * yf * ((did + 7 * x0 + 13 * y1) % 256)
             |     + xf * yf * ((did + 7 * x1 + 13 * y1) % 256) + 32768) // 65536 AS b
             |  FROM c2),
             |lum AS (SELECT doc_id, ow, oh, dx, dy,
             |    (299 * r + 587 * g + 114 * b) // 1000 AS luma FROM v)
             |SELECT doc_id AS media_id, ow AS width, oh AS height,
             |  count(*) AS n_px, CAST(sum(luma) AS BIGINT) AS sum_luma,
             |  max(CASE WHEN dx = 1 AND dy = least(2, oh - 1) THEN luma END) AS probe_luma
             |FROM lum GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: perceptual image hash (dHash) — bilinear 8×8 luma
    // grid, bit = right-neighbor brighter, 56 bits packed below 2^63. The
    // integer resample makes the perceptual hash itself hash-pinnable by
    // the oracle — every bit of every image's dhash is checked, not just a
    // statistic. Downstream this is the image twin of simhash: equal or
    // hamming-close hashes → near-dup group. -----
    Q("m_dhash",
      (s, d) => Multimodal.dhashFeatures(
          Multimodal.bmpFromDocuments(Tables.documents(s, d), "doc_id"))
        .orderBy("media_id"),
      Some("""WITH p AS (SELECT doc_id, doc_id % 256 AS did,
             |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
             |d AS (SELECT p.*, xs.dx, ys.dy FROM p,
             |    (SELECT unnest(range(0, 8)) AS dx) xs,
             |    (SELECT unnest(range(0, 8)) AS dy) ys),
             |c AS (SELECT doc_id, did, w, h, dx, dy,
             |    (dx * (w - 1) * 256) // 7 AS fx,
             |    (dy * (h - 1) * 256) // 7 AS fy FROM d),
             |c2 AS (SELECT doc_id, did, dx, dy,
             |    fx // 256 AS x0, fx % 256 AS xf,
             |    least(fx // 256 + 1, w - 1) AS x1,
             |    fy // 256 AS y0, fy % 256 AS yf,
             |    least(fy // 256 + 1, h - 1) AS y1 FROM c),
             |v AS (SELECT doc_id, dx, dy,
             |    ((256 - xf) * (256 - yf) * ((did + x0 * y0) % 256)
             |     + xf * (256 - yf) * ((did + x1 * y0) % 256)
             |     + (256 - xf) * yf * ((did + x0 * y1) % 256)
             |     + xf * yf * ((did + x1 * y1) % 256) + 32768) // 65536 AS r,
             |    ((256 - xf) * (256 - yf) * ((2 * did + 3 * x0 + 5 * y0) % 256)
             |     + xf * (256 - yf) * ((2 * did + 3 * x1 + 5 * y0) % 256)
             |     + (256 - xf) * yf * ((2 * did + 3 * x0 + 5 * y1) % 256)
             |     + xf * yf * ((2 * did + 3 * x1 + 5 * y1) % 256) + 32768) // 65536 AS g,
             |    ((256 - xf) * (256 - yf) * ((did + 7 * x0 + 13 * y0) % 256)
             |     + xf * (256 - yf) * ((did + 7 * x1 + 13 * y0) % 256)
             |     + (256 - xf) * yf * ((did + 7 * x0 + 13 * y1) % 256)
             |     + xf * yf * ((did + 7 * x1 + 13 * y1) % 256) + 32768) // 65536 AS b
             |  FROM c2),
             |lum AS (SELECT doc_id, dx, dy,
             |    (299 * r + 587 * g + 114 * b) // 1000 AS luma FROM v),
             |bits AS (SELECT a.doc_id, a.dy AS y, a.dx AS x,
             |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
             |  FROM lum a JOIN lum b
             |    ON a.doc_id = b.doc_id AND a.dy = b.dy AND b.dx = a.dx + 1
             |  WHERE a.dx < 7)
             |SELECT doc_id AS media_id,
             |  CAST(sum(bit * (CAST(1 AS BIGINT) << (y * 7 + x))) AS BIGINT) AS dhash,
             |  CAST(sum(bit) AS BIGINT) AS n_bits
             |FROM bits GROUP BY 1 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: IMAGE near-dup pairs — dHash + multi-band hamming
    // LSH, closing the loop from perceptual hash to dedup operator. The
    // corpus plants duplicates (payload keyed by doc_id % 83 → ~6 copies
    // per image); banding 56 bits into 7×8 gives EXACT recall at
    // hamming ≤ 6 by pigeonhole, so the oracle can enumerate the full
    // answer: every pair, its hamming, nothing sampled. Band-keyed
    // shuffle, no all-pairs join — the image twin of d_simhash_pairs with
    // a recall guarantee the prefix block lacks. -----
    Q("m_dhash_near_dup",
      (s, d) => {
        val enc = udf((id: Long, perturb: Boolean) =>
          Multimodal.encodeBmpGray(id, perturb))
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            enc(col("doc_id") % 83, col("doc_id") % 7 === 3).as("payload"))
        Dedup.bandedHammingPairs(
          Multimodal.dhashFeatures(media), "media_id", "dhash",
          bits = 56, bands = 7, maxHamming = 6,
          dedupInput = false) // media_id = doc_id, unique by construction
          .orderBy("id_a", "id_b")
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 83 AS did FROM documents),
             |lum AS (SELECT doc_id, xs.x, ys.y,
             |    (CAST(concat('0x',
             |        substr(md5(did || ':' || xs.x || ':' || ys.y), 1, 2)) AS INT)
             |     + CASE WHEN doc_id % 7 = 3 AND xs.x = 2 AND ys.y = 4
             |            THEN 128 ELSE 0 END) % 256 AS luma
             |  FROM p,
             |    (SELECT unnest(range(0, 8)) AS x) xs,
             |    (SELECT unnest(range(0, 8)) AS y) ys),
             |bits AS (SELECT a.doc_id, a.y, a.x,
             |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
             |  FROM lum a JOIN lum b
             |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
             |  WHERE a.x < 7),
             |sig AS (SELECT doc_id AS media_id,
             |    CAST(sum(bit * (CAST(1 AS BIGINT) << (y * 7 + x))) AS BIGINT) AS dhash
             |  FROM bits GROUP BY 1),
             |bnd AS (SELECT media_id, dhash, t.i AS bi,
             |    (dhash >> (t.i * 8)) % 256 AS bv
             |  FROM sig, (SELECT unnest(range(0, 7)) AS i) t),
             |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             |    a.dhash AS ha, b.dhash AS hb
             |  FROM bnd a JOIN bnd b
             |    ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id)
             |SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
             |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
             |ORDER BY id_a, id_b""".stripMargin),
      bench = true),

    // ----- multimodal: AUDIO fingerprint — the time-domain dHash
    // (chromaprint-family simplified to integer-exact): 4-sample frame
    // energies (Σv², exact BIGINT), bit f = e(f) > e(f+1), 56 bits. The
    // md5-keyed sample rule lets the oracle recompute EVERY bit of every
    // clip's fingerprint — the perceptual hash itself is hash-pinned, the
    // audio twin of m_dhash. -----
    Q("m_audio_fingerprint",
      (s, d) => {
        val enc = udf((id: Long, perturb: Boolean) =>
          Multimodal.encodeWavKeyed(id, perturb))
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            enc(col("doc_id") % 83, col("doc_id") % 7 === 3).as("payload"))
        Multimodal.audioFingerprintFeatures(media).orderBy("media_id")
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 83 AS did FROM documents),
             |sm AS (SELECT doc_id, t.i,
             |    (CAST(concat('0x',
             |        substr(md5(did || ':' || t.i), 1, 4)) AS BIGINT)
             |     + CASE WHEN doc_id % 7 = 3 AND t.i = 5
             |            THEN 8192 ELSE 0 END) % 65536 - 32768 AS s
             |  FROM p, (SELECT unnest(range(0, 228)) AS i) t),
             |e AS (SELECT doc_id, i // 4 AS f, sum(s * s) AS e
             |  FROM sm GROUP BY 1, 2),
             |bits AS (SELECT a.doc_id, a.f AS b,
             |    CASE WHEN a.e > c.e THEN 1 ELSE 0 END AS bit
             |  FROM e a JOIN e c ON a.doc_id = c.doc_id AND c.f = a.f + 1
             |  WHERE a.f < 56)
             |SELECT doc_id AS media_id,
             |  CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS afp,
             |  CAST(sum(bit) AS BIGINT) AS n_bits
             |FROM bits GROUP BY 1 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: AUDIO near-dup pairs — fingerprint + the same
    // 7×8 banded-hamming LSH as the image family (exact recall ≤ 6 by
    // pigeonhole). Planted duplicates (payload keyed doc_id % 83, one
    // perturbed sample at doc_id % 7 == 3 ⇒ hamming ≤ 2 twins), so the
    // oracle enumerates the COMPLETE pair answer. Audio dedup as a
    // first-class corpus operator, not a spec demo. -----
    Q("m_audio_near_dup",
      (s, d) => {
        val enc = udf((id: Long, perturb: Boolean) =>
          Multimodal.encodeWavKeyed(id, perturb))
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            enc(col("doc_id") % 83, col("doc_id") % 7 === 3).as("payload"))
        Dedup.bandedHammingPairs(
          Multimodal.audioFingerprintFeatures(media), "media_id", "afp",
          bits = 56, bands = 7, maxHamming = 6,
          dedupInput = false) // media_id = doc_id, unique by construction
          .orderBy("id_a", "id_b")
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 83 AS did FROM documents),
             |sm AS (SELECT doc_id, t.i,
             |    (CAST(concat('0x',
             |        substr(md5(did || ':' || t.i), 1, 4)) AS BIGINT)
             |     + CASE WHEN doc_id % 7 = 3 AND t.i = 5
             |            THEN 8192 ELSE 0 END) % 65536 - 32768 AS s
             |  FROM p, (SELECT unnest(range(0, 228)) AS i) t),
             |e AS (SELECT doc_id, i // 4 AS f, sum(s * s) AS e
             |  FROM sm GROUP BY 1, 2),
             |bits AS (SELECT a.doc_id, a.f AS b,
             |    CASE WHEN a.e > c.e THEN 1 ELSE 0 END AS bit
             |  FROM e a JOIN e c ON a.doc_id = c.doc_id AND c.f = a.f + 1
             |  WHERE a.f < 56),
             |sig AS (SELECT doc_id AS media_id,
             |    CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS afp
             |  FROM bits GROUP BY 1),
             |bnd AS (SELECT media_id, afp, t.i AS bi,
             |    (afp >> (t.i * 8)) % 256 AS bv
             |  FROM sig, (SELECT unnest(range(0, 7)) AS i) t),
             |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             |    a.afp AS ha, b.afp AS hb
             |  FROM bnd a JOIN bnd b
             |    ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id)
             |SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
             |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- multimodal: VIDEO temporal fingerprint — ordinal-signature
    // copy detection (the Hampapur ordinal-measure family's pairwise
    // core): bit f = lumasum(f) > lumasum(f+1) over 57 frames, exact
    // integer sums through the REAL AVI container walk. Keyed
    // constant-gray frames (luma of a constant-v frame is exactly v, so
    // the oracle compares md5 levels directly) — every bit of every
    // video's fingerprint hash-pinned. -----
    Q("m_video_fingerprint",
      (s, d) => {
        val enc = udf((id: Long, perturb: Boolean) =>
          Multimodal.encodeAviKeyed(id, perturb))
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            enc(col("doc_id") % 83, col("doc_id") % 7 === 3).as("payload"))
        Multimodal.videoFingerprintFeatures(media).orderBy("media_id")
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 83 AS did FROM documents),
             |lv AS (SELECT doc_id, t.f,
             |    (CAST(concat('0x',
             |        substr(md5(did || ':' || t.f), 1, 2)) AS INT)
             |     + CASE WHEN doc_id % 7 = 3 AND t.f = 5
             |            THEN 64 ELSE 0 END) % 256 AS v
             |  FROM p, (SELECT unnest(range(0, 57)) AS f) t),
             |bits AS (SELECT a.doc_id, a.f AS b,
             |    CASE WHEN a.v > c.v THEN 1 ELSE 0 END AS bit
             |  FROM lv a JOIN lv c ON a.doc_id = c.doc_id AND c.f = a.f + 1
             |  WHERE a.f < 56)
             |SELECT doc_id AS media_id,
             |  CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS vfp,
             |  CAST(sum(bit) AS BIGINT) AS n_bits
             |FROM bits GROUP BY 1 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: VIDEO near-dup pairs — the temporal fingerprint
    // through the same 7×8 banded-hamming LSH (exact recall ≤ 6 by
    // pigeonhole; planted duplicate videos via colliding keys, one
    // level-shifted frame ⇒ hamming ≤ 2 twins). Image, audio, and video
    // dedup now share one verified LSH machine and one oracle shape. -----
    Q("m_video_near_dup",
      (s, d) => {
        val enc = udf((id: Long, perturb: Boolean) =>
          Multimodal.encodeAviKeyed(id, perturb))
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            enc(col("doc_id") % 83, col("doc_id") % 7 === 3).as("payload"))
        Dedup.bandedHammingPairs(
          Multimodal.videoFingerprintFeatures(media), "media_id", "vfp",
          bits = 56, bands = 7, maxHamming = 6,
          dedupInput = false) // media_id = doc_id, unique by construction
          .orderBy("id_a", "id_b")
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 83 AS did FROM documents),
             |lv AS (SELECT doc_id, t.f,
             |    (CAST(concat('0x',
             |        substr(md5(did || ':' || t.f), 1, 2)) AS INT)
             |     + CASE WHEN doc_id % 7 = 3 AND t.f = 5
             |            THEN 64 ELSE 0 END) % 256 AS v
             |  FROM p, (SELECT unnest(range(0, 57)) AS f) t),
             |bits AS (SELECT a.doc_id, a.f AS b,
             |    CASE WHEN a.v > c.v THEN 1 ELSE 0 END AS bit
             |  FROM lv a JOIN lv c ON a.doc_id = c.doc_id AND c.f = a.f + 1
             |  WHERE a.f < 56),
             |sig AS (SELECT doc_id AS media_id,
             |    CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS vfp
             |  FROM bits GROUP BY 1),
             |bnd AS (SELECT media_id, vfp, t.i AS bi,
             |    (vfp >> (t.i * 8)) % 256 AS bv
             |  FROM sig, (SELECT unnest(range(0, 7)) AS i) t),
             |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             |    a.vfp AS ha, b.vfp AS hb
             |  FROM bnd a JOIN bnd b
             |    ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id)
             |SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
             |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- multimodal: PDF-EMBEDDED image near-dup — the cross-format
    // integration of the chain: documents become PDFs carrying an embedded
    // gray image (md5 pixel rule keyed doc_id % 83, single-pixel perturb at
    // doc_id % 7 == 3), PdfImages extracts the raster back out of the
    // byte-level PDF walk, dhashLuma hashes it (8×8 ⇒ identity resample ⇒
    // bit-exact), and the same banded-hamming LSH enumerates duplicate
    // pairs ACROSS documents. Same oracle shape as m_dhash_near_dup —
    // proving the PDF leg changes nothing about the dedup answer is the
    // point: extraction is lossless, so the pair set is identical. -----
    Q("m_pdf_image_dedup",
      (s, d) => {
        val mk = udf((id: Long, perturb: Boolean) =>
          graft.ingest.PdfImageFixtures.grayImagePdf(id, perturb))
        val feat = udf((b: Array[Byte]) =>
          graft.ingest.PdfImages.extract(b).headOption.map(im =>
            Multimodal.dhashLuma(im.luma, im.width, im.height)))
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            mk(col("doc_id") % 83, col("doc_id") % 7 === 3).as("pdf"))
          .select(col("media_id"), feat(col("pdf")).as("dhash"))
          .filter(col("dhash").isNotNull)
        Dedup.bandedHammingPairs(media, "media_id", "dhash",
          bits = 56, bands = 7, maxHamming = 6,
          dedupInput = false) // media_id = doc_id, unique by construction
          .orderBy("id_a", "id_b")
      },
      Some("""WITH p AS (SELECT doc_id, doc_id % 83 AS did FROM documents),
             |lum AS (SELECT doc_id, xs.x, ys.y,
             |    (CAST(concat('0x',
             |        substr(md5(did || ':' || xs.x || ':' || ys.y), 1, 2)) AS INT)
             |     + CASE WHEN doc_id % 7 = 3 AND xs.x = 2 AND ys.y = 4
             |            THEN 128 ELSE 0 END) % 256 AS luma
             |  FROM p,
             |    (SELECT unnest(range(0, 8)) AS x) xs,
             |    (SELECT unnest(range(0, 8)) AS y) ys),
             |bits AS (SELECT a.doc_id, a.y, a.x,
             |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
             |  FROM lum a JOIN lum b
             |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
             |  WHERE a.x < 7),
             |sig AS (SELECT doc_id AS media_id,
             |    CAST(sum(bit * (CAST(1 AS BIGINT) << (y * 7 + x))) AS BIGINT) AS dhash
             |  FROM bits GROUP BY 1),
             |bnd AS (SELECT media_id, dhash, t.i AS bi,
             |    (dhash >> (t.i * 8)) % 256 AS bv
             |  FROM sig, (SELECT unnest(range(0, 7)) AS i) t),
             |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             |    a.dhash AS ha, b.dhash AS hb
             |  FROM bnd a JOIN bnd b
             |    ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id)
             |SELECT id_a, id_b, bit_count(xor(ha, hb)) AS hamming
             |FROM cand WHERE bit_count(xor(ha, hb)) <= 6
             |ORDER BY id_a, id_b""".stripMargin)),

    // ----- multimodal: image DUP GROUPS — connected components over the
    // banded dHash pairs, completing the image-dedup chain (hash → pairs
    // → groups → keep-one) with the same CC machinery as d_dup_groups;
    // the oracle replays the closure via WITH RECURSIVE over the
    // closed-form dhash pair set. -----
    Q("m_dhash_groups",
      (s, d) => {
        val enc = udf((id: Long, perturb: Boolean) =>
          Multimodal.encodeBmpGray(id, perturb))
        val media = Tables.documents(s, d)
          .select(col("doc_id").as("media_id"),
            enc(col("doc_id") % 83, col("doc_id") % 7 === 3).as("payload"))
        val pairs = Dedup.bandedHammingPairs(
          Multimodal.dhashFeatures(media), "media_id", "dhash",
          bits = 56, bands = 7, maxHamming = 6,
          dedupInput = false) // media_id = doc_id, unique by construction
        val comp = Dedup.connectedComponents(pairs)
        val sizes = comp.groupBy("comp").agg(count(lit(1)).as("group_size"))
        comp.join(sizes, "comp")
          .select(col("id").as("media_id"), col("comp").as("group_rep"),
            col("group_size"))
          .orderBy("media_id")
      },
      Some("""WITH RECURSIVE p AS (SELECT doc_id, doc_id % 83 AS did FROM documents),
             |lum AS (SELECT doc_id, xs.x, ys.y,
             |    (CAST(concat('0x',
             |        substr(md5(did || ':' || xs.x || ':' || ys.y), 1, 2)) AS INT)
             |     + CASE WHEN doc_id % 7 = 3 AND xs.x = 2 AND ys.y = 4
             |            THEN 128 ELSE 0 END) % 256 AS luma
             |  FROM p,
             |    (SELECT unnest(range(0, 8)) AS x) xs,
             |    (SELECT unnest(range(0, 8)) AS y) ys),
             |bits AS (SELECT a.doc_id, a.y, a.x,
             |    CASE WHEN b.luma > a.luma THEN 1 ELSE 0 END AS bit
             |  FROM lum a JOIN lum b
             |    ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 1
             |  WHERE a.x < 7),
             |sig AS (SELECT doc_id AS media_id,
             |    CAST(sum(bit * (CAST(1 AS BIGINT) << (y * 7 + x))) AS BIGINT) AS dhash
             |  FROM bits GROUP BY 1),
             |bnd AS (SELECT media_id, dhash, t.i AS bi,
             |    (dhash >> (t.i * 8)) % 256 AS bv
             |  FROM sig, (SELECT unnest(range(0, 7)) AS i) t),
             |cand AS (SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
             |    a.dhash AS ha, b.dhash AS hb
             |  FROM bnd a JOIN bnd b
             |    ON a.bi = b.bi AND a.bv = b.bv AND a.media_id < b.media_id),
             |verified AS (SELECT id_a, id_b FROM cand
             |  WHERE bit_count(xor(ha, hb)) <= 6),
             |edges AS (SELECT id_a AS src, id_b AS dst FROM verified
             |          UNION SELECT id_b, id_a FROM verified),
             |reach(id, r) AS (
             |  SELECT src, src FROM edges
             |  UNION
             |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
             |cc AS (SELECT id, min(r) AS group_rep FROM reach GROUP BY 1)
             |SELECT id AS media_id, group_rep,
             |       count(*) OVER (PARTITION BY group_rep) AS group_size
             |FROM cc ORDER BY media_id""".stripMargin)),

    // ----- multimodal: REAL linear audio resample — the sample-rate
    // conversion stage of an audio pipeline (decode → resample → feature),
    // the audio twin of m_image_resize: 8.8 align-corners fixed point,
    // floor rounding (matches SQL //), re-encoded as a real 6 kHz WAV and
    // pushed through the standard decode-stats stage, so encode →
    // resample → re-encode → decode is pinned end-to-end. -----
    Q("m_audio_resample",
      (s, d) => Multimodal.decodeWavFeatures(
          Multimodal.resampleWav(
            Multimodal.wavFromDocuments(Tables.documents(s, d), "doc_id"), 6000))
        .select(col("media_id"), col("sample_rate"), col("channels"),
          col("n_samples"), col("sum_samples"), col("probe_sample"),
          col("max_abs"))
        .orderBy("media_id"),
      Some("""WITH p AS (SELECT doc_id, doc_id % 256 AS did,
             |    16 + doc_id % 17 AS n,
             |    greatest(2, ((16 + doc_id % 17) * 6000) // 8000) AS m
             |  FROM documents),
             |o AS (SELECT doc_id, did, n, m, t.j,
             |    (t.j * (n - 1) * 256) // (m - 1) AS f
             |  FROM p, (SELECT unnest(range(0, 24)) AS j) t WHERE t.j < m),
             |c AS (SELECT doc_id, did, n, m, j,
             |    f // 256 AS i0, f % 256 AS fr,
             |    least(f // 256 + 1, n - 1) AS i1 FROM o),
             |acc AS (SELECT doc_id, m, j,
             |    (((did * 31 + i0 * 997) % 65536) - 32768) * (256 - fr)
             |     + (((did * 31 + i1 * 997) % 65536) - 32768) * fr AS a
             |  FROM c),
             |v AS (SELECT doc_id, m, j,
             |    (a + CASE WHEN a >= 0 THEN 128 ELSE -128 END) // 256 AS s
             |  FROM acc)
             |SELECT doc_id AS media_id, CAST(6000 AS BIGINT) AS sample_rate,
             |  CAST(1 AS BIGINT) AS channels, CAST(max(m) AS BIGINT) AS n_samples,
             |  CAST(sum(s) AS BIGINT) AS sum_samples,
             |  CAST(max(CASE WHEN j = 3 THEN s END) AS BIGINT) AS probe_sample,
             |  CAST(max(abs(s)) AS BIGINT) AS max_abs
             |FROM v GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- multimodal: audio feature extraction — zero-crossing count
    // (the VAD primitive), exact Σv² energy, RMS. Integer sign-product
    // test so the crossing count replays exactly in SQL. -----
    Q("m_audio_features",
      (s, d) => Multimodal.audioFeatures(
          Multimodal.wavFromDocuments(Tables.documents(s, d), "doc_id"))
        .orderBy("media_id"),
      Some("""WITH p AS (SELECT doc_id, doc_id % 256 AS did,
             |    16 + doc_id % 17 AS n FROM documents),
             |sm AS (SELECT p.doc_id, p.n, t.i,
             |    ((p.did * 31 + t.i * 997) % 65536) - 32768 AS v
             |  FROM p, (SELECT unnest(range(0, 33)) AS i) t WHERE t.i < p.n),
             |x AS (SELECT a.doc_id, a.n, a.v, b.v AS pv
             |  FROM sm a LEFT JOIN sm b
             |    ON a.doc_id = b.doc_id AND b.i = a.i - 1)
             |SELECT doc_id AS media_id, CAST(max(n) AS BIGINT) AS n_samples,
             |  CAST(sum(CASE WHEN pv IS NOT NULL AND pv * v < 0
             |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings,
             |  CAST(sum(v * v) AS BIGINT) AS energy,
             |  round(sqrt(CAST(sum(v * v) AS DOUBLE) / max(n)), 4) AS rms
             |FROM x GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- multimodal: image statistics — luma min/max/sum and a 4-bin
    // histogram; the exposure/contrast screen that drops black frames and
    // blown-out scans before feature extraction. All integer-exact. -----
    Q("m_image_stats",
      (s, d) => Multimodal.imageStats(
          Multimodal.bmpFromDocuments(Tables.documents(s, d), "doc_id"))
        .orderBy("media_id"),
      Some("""WITH dims AS (SELECT doc_id, doc_id % 256 AS did,
             |    4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h FROM documents),
             |px AS (SELECT doc_id, xs.x, ys.y,
             |    (did + xs.x * ys.y) % 256 AS r,
             |    (2 * did + 3 * xs.x + 5 * ys.y) % 256 AS g,
             |    (did + 7 * xs.x + 13 * ys.y) % 256 AS b
             |  FROM dims,
             |    (SELECT unnest(range(0, 8)) AS x) xs,
             |    (SELECT unnest(range(0, 6)) AS y) ys
             |  WHERE xs.x < w AND ys.y < h),
             |lum AS (SELECT doc_id,
             |    (299 * r + 587 * g + 114 * b) // 1000 AS luma FROM px)
             |SELECT doc_id AS media_id,
             |  CAST(min(luma) AS BIGINT) AS lum_min,
             |  CAST(max(luma) AS BIGINT) AS lum_max,
             |  CAST(sum(luma) AS BIGINT) AS lum_sum,
             |  CAST(sum(CASE WHEN luma // 64 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS h0,
             |  CAST(sum(CASE WHEN luma // 64 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
             |  CAST(sum(CASE WHEN luma // 64 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS h2,
             |  CAST(sum(CASE WHEN luma // 64 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h3
             |FROM lum GROUP BY 1 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: video scene-cut detection — per-frame luma sums,
    // consecutive deltas, cut where |delta| > 100. The temporal primitive
    // (frame differencing) the image/audio stages have no analog for;
    // integer-exact, oracle replays it from the AVI pixel rule. -----
    Q("m_scene_cuts",
      (s, d) => Multimodal.videoSceneCuts(
          Multimodal.aviFromDocuments(Tables.documents(s, d), "doc_id"), 100L)
        .orderBy("media_id"),
      Some("""WITH p AS (SELECT doc_id, doc_id % 256 AS did,
             |    4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
             |    2 + doc_id % 3 AS nf FROM documents),
             |px AS (SELECT doc_id, nf, fs.f, xs.x, ys.y,
             |    (did + xs.x * ys.y + 29 * fs.f) % 256 AS r,
             |    (2 * did + 3 * xs.x + 5 * ys.y + 11 * fs.f) % 256 AS g,
             |    (did + 7 * xs.x + 13 * ys.y + 17 * fs.f) % 256 AS b
             |  FROM p,
             |    (SELECT unnest(range(0, 6)) AS x) xs,
             |    (SELECT unnest(range(0, 4)) AS y) ys,
             |    (SELECT unnest(range(0, 4)) AS f) fs
             |  WHERE xs.x < w AND ys.y < h AND fs.f < nf),
             |fsum AS (SELECT doc_id, nf, f,
             |    sum((299 * r + 587 * g + 114 * b) // 1000) AS s
             |  FROM px GROUP BY 1, 2, 3),
             |delta AS (SELECT a.doc_id, a.nf, a.f, a.s - b.s AS d
             |  FROM fsum a JOIN fsum b
             |    ON a.doc_id = b.doc_id AND b.f = a.f - 1)
             |SELECT doc_id AS media_id, CAST(max(nf) AS BIGINT) AS n_frames,
             |  CAST(sum(CASE WHEN abs(d) > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
             |  CAST(max(abs(d)) AS BIGINT) AS max_abs_delta,
             |  CAST(max(CASE WHEN f = 1 THEN d END) AS BIGINT) AS first_delta
             |FROM delta GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ----- multimodal: REAL baseline JPEG decode (ops/Jpeg) — general
    // marker/DHT/DQT/SOF0/SOS machinery, Huffman entropy decode, dequant,
    // IDCT. Fixtures are DC-exact (block-constant even Y, flat quant 16),
    // the one shape where lossy JPEG round-trips losslessly — so the
    // closed-form oracle pins the whole chain; the general AC paths are
    // OpsSpec-gated against ImageIO-encoded streams. probe = Y(1,2). -----
    Q("m_decode_jpeg",
      (s, d) => Multimodal.decodeJpegFeatures(
          Multimodal.jpegFromDocuments(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_px"),
          col("sum_luma"), col("probe_luma"))
        .orderBy("media_id"),
      Some("""WITH dims AS (SELECT doc_id, doc_id % 256 AS did,
             |    24 + (doc_id % 2) * 8 AS w, 16 + (doc_id % 3) * 8 AS h
             |  FROM documents),
             |blk AS (SELECT doc_id, w, h, bx.b AS bx, by.b AS by,
             |    2 * ((did + 5 * bx.b + 7 * by.b) % 100) + 16 AS y
             |  FROM dims,
             |    (SELECT unnest(range(0, 4)) AS b) bx,
             |    (SELECT unnest(range(0, 5)) AS b) by
             |  WHERE bx.b < w // 8 AND by.b < h // 8)
             |SELECT doc_id AS media_id, w AS width, h AS height,
             |  CAST(w * h AS BIGINT) AS n_px,
             |  CAST(sum(64 * y) AS BIGINT) AS sum_luma,
             |  CAST(max(CASE WHEN bx = 0 AND by = 0 THEN y END) AS BIGINT)
             |    AS probe_luma
             |FROM blk GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: REAL GIF decode — palette-indexed with GIF's
    // LSB-first LZW (a different bit discipline from the PDF layer's
    // MSB-first LZW), extension-block skipping, sub-block reassembly, and
    // a GENERAL variable-width decompressor. Palette entries and pixel
    // indices are both closed-form, so the oracle recomputes luma stats
    // through the palette without touching bytes. -----
    Q("m_decode_gif",
      (s, d) => Multimodal.decodeGifFeatures(
          Multimodal.gifFromDocuments(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_px"),
          col("sum_luma"), col("probe_luma"))
        .orderBy("media_id"),
      Some("""WITH dims AS (SELECT doc_id, doc_id % 256 AS did,
             |    6 + doc_id % 3 AS w, 5 + doc_id % 2 AS h FROM documents),
             |px AS (SELECT doc_id, w, h, xs.x, ys.y,
             |    (xs.x + 3 * ys.y + did) % 256 AS ix, did
             |  FROM dims,
             |    (SELECT unnest(range(0, 9)) AS x) xs,
             |    (SELECT unnest(range(0, 6)) AS y) ys
             |  WHERE xs.x < w AND ys.y < h),
             |lum AS (SELECT doc_id, w, h, x, y,
             |    (299 * ((did + ix) % 256) + 587 * ((2 * did + 3 * ix) % 256) +
             |     114 * ((did + 7 * ix) % 256)) // 1000 AS luma FROM px)
             |SELECT doc_id AS media_id, w AS width, h AS height,
             |  count(*) AS n_px, CAST(sum(luma) AS BIGINT) AS sum_luma,
             |  max(CASE WHEN x = 1 AND y = 2 THEN luma END) AS probe_luma
             |FROM lum GROUP BY 1, 2, 3 ORDER BY media_id""".stripMargin)),

    // ----- multimodal: REAL video decode — the AVI twin completing the
    // modality set. Payloads are genuine RIFF('AVI ') containers (nested
    // hdrl/strl LISTs, avih main header, per-frame '00db' chunks of raw
    // bottom-up BGR24 with stride padding); Spark walks the container and
    // decodes every frame (Multimodal.decodeAvi, mapPartitions) while the
    // oracle recomputes the same statistics from the (x, y, frame) pixel
    // rule. probe_luma pins pixel (1,1) of frame 1 so frame-order, stride,
    // or row-order bugs can't hide inside the permutation-invariant sum. -----
    Q("m_decode_avi",
      (s, d) => Multimodal.decodeAviFeatures(
          Multimodal.aviFromDocuments(Tables.documents(s, d), "doc_id"))
        .select(col("media_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("sum_luma"), col("probe_luma"))
        .orderBy("media_id"),
      Some("""WITH dims AS (SELECT doc_id, doc_id % 256 AS did,
             |    4 + doc_id % 3 AS w, 3 + doc_id % 2 AS h,
             |    2 + doc_id % 3 AS nf FROM documents),
             |px AS (SELECT doc_id, w, h, nf, xs.x, ys.y, fs.f,
             |    (did + xs.x * ys.y + 29 * fs.f) % 256 AS r,
             |    (2 * did + 3 * xs.x + 5 * ys.y + 11 * fs.f) % 256 AS g,
             |    (did + 7 * xs.x + 13 * ys.y + 17 * fs.f) % 256 AS b
             |  FROM dims,
             |    (SELECT unnest(range(0, 6)) AS x) xs,
             |    (SELECT unnest(range(0, 4)) AS y) ys,
             |    (SELECT unnest(range(0, 4)) AS f) fs
             |  WHERE xs.x < w AND ys.y < h AND fs.f < nf),
             |lum AS (SELECT doc_id, w, h, nf, x, y, f,
             |    (299 * r + 587 * g + 114 * b) // 1000 AS luma FROM px)
             |SELECT doc_id AS media_id, w AS width, h AS height, nf AS n_frames,
             |  CAST(sum(luma) AS BIGINT) AS sum_luma,
             |  max(CASE WHEN x = 1 AND y = 1 AND f = 1 THEN luma END) AS probe_luma
             |FROM lum GROUP BY 1, 2, 3, 4 ORDER BY media_id""".stripMargin)),

    // ----- F21: visual-candidate detection over genuine assembled PDFs.
    // Every doc_id becomes real single-page PDF bytes whose image/stroke
    // geometry follows the closed-form rule in ingest/PdfFixtures (five
    // modes: large image, sub-threshold image, stroke rows across the 5-rect
    // threshold, text-only vs full-page-crop fallback, corner-logo
    // suppression made decision-relevant). Spark runs the byte-level
    // detector (object scan, MediaBox inheritance, XObject resolution, CTM,
    // stroke bboxes — VisualDetector.detect inside the same flatMap shape as
    // text extraction) while the oracle recomputes the expected decision and
    // padded/clamped crop directly from the geometry rule; crop columns are
    // -1 for non-candidates and full-page-fallback pages. Reference rules:
    // src/pdf-visual/detector.ts:27-48,263-309. -----
    Q("m_visual_candidates",
      (s, d) => {
        val mk = udf((id: Long) => graft.ingest.PdfFixtures.syntheticPdf(id))
        val raw = Tables.documents(s, d).select(
          concat(lit("/pdf/"), col("doc_id").cast("string"), lit(".pdf"))
            .as("filePath"),
          mk(col("doc_id")).as("content"))
        graft.ingest.PdfIngest.visualCandidatesDF(s, raw)
          .select(col("filePath").as("file_path"),
            col("page").cast("long").as("page"),
            col("isCandidate").as("is_candidate"),
            (round(coalesce(col("x0"), lit(-1.0)), 4) + 0.0).as("x0"),
            (round(coalesce(col("y0"), lit(-1.0)), 4) + 0.0).as("y0"),
            (round(coalesce(col("x1"), lit(-1.0)), 4) + 0.0).as("x1"),
            (round(coalesce(col("y1"), lit(-1.0)), 4) + 0.0).as("y1"))
          .orderBy("file_path")
      },
      Some("""WITH g AS (SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS mode,
             |    '/pdf/' || doc_id || '.pdf' AS file_path,
             |    (180 + (doc_id % 10) * 20)::DOUBLE AS w0,
             |    CAST(3 + doc_id % 4 AS INTEGER) AS ns,
             |    (50 + (doc_id % 3) * 30)::DOUBLE AS sy
             |  FROM documents),
             |pads AS (SELECT file_path, mode, ns, sy, w0, doc_id,
             |    greatest(12.0::DOUBLE, w0 * 0.08::DOUBLE) AS xp0,
             |    ((ns - 1) * 100 + 40)::DOUBLE AS uw
             |  FROM g),
             |dec AS (SELECT file_path,
             |    (mode = 0 OR (mode = 2 AND ns >= 5)
             |      OR (mode = 3 AND doc_id % 2 = 1)) AS is_candidate,
             |    CASE WHEN mode = 0 THEN 50 - xp0
             |         WHEN mode = 2 AND ns >= 5
             |           THEN 50 - greatest(12.0::DOUBLE, uw * 0.08::DOUBLE)
             |         ELSE -1.0::DOUBLE END AS x0,
             |    CASE WHEN mode = 0 THEN 176.0::DOUBLE
             |         WHEN mode = 2 AND ns >= 5 THEN sy - 12
             |         ELSE -1.0::DOUBLE END AS y0,
             |    CASE WHEN mode = 0 THEN 50 + w0 + xp0
             |         WHEN mode = 2 AND ns >= 5
             |           THEN least(612.0::DOUBLE,
             |                      50 + uw + greatest(12.0::DOUBLE, uw * 0.08::DOUBLE))
             |         ELSE -1.0::DOUBLE END AS x1,
             |    CASE WHEN mode = 0 THEN 524.0::DOUBLE
             |         WHEN mode = 2 AND ns >= 5 THEN sy + 52
             |         ELSE -1.0::DOUBLE END AS y1
             |  FROM pads)
             |SELECT file_path, CAST(1 AS BIGINT) AS page, is_candidate,
             |  round(x0, 4) + 0.0 AS x0, round(y0, 4) + 0.0 AS y0,
             |  round(x1, 4) + 0.0 AS x1, round(y1, 4) + 0.0 AS y1
             |FROM dec ORDER BY file_path""".stripMargin))
  )
}
