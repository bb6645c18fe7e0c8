package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.search.VectorSearch

/** Approximate-nearest-neighbor via signed-random-projection (SRP) LSH over
  * an embedding column — the scale path behind the same API as the
  * brute-force baseline (SURVEY §7 step 7).
  *
  * Hyperplanes are Rademacher (±1) vectors derived from the portable md5
  * hash (component(p, j) = +1 iff hash60(p ':' j) is even), so signatures
  * are reproducible in the DuckDB oracle. Bucket id = bit vector of
  * sign(v · h_p) over `planes` hyperplanes.
  *
  * Scale shape: bucketing is a per-row projection (no shuffle); the query
  * probes exactly one bucket (equality filter — partition-prunable if the
  * table is written bucketed/partitioned by `bucket`), and the brute-force
  * rerank runs over the bucket only, ~N/2^planes rows.
  */
object Similarity {

  /** deterministic ±1 hyperplane component via the portable hash */
  def planeComponent(p: Int, j: Int): Double = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$j".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val v = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    if (v % 2 == 0) 1.0 else -1.0
  }

  /** SRP bucket id for a vector column (planes ≤ 30).
    *
    * One per-row UDF pass over a precomputed ±1 component matrix. The
    * expression form (planes × dim inlined add terms) generated a >64 KB
    * janino method at 8×64, failing whole-stage codegen and dropping the
    * entire stage to interpreted mode. Accumulation is sequential in j with
    * a double accumulator — bit-identical to the left-associated SQL sum it
    * replaces (and to the oracle's per-plane ordered sum). */
  def srpBucket(vecColName: String, dim: Int, planes: Int): Column = {
    val comps = Array.tabulate(planes, dim)((p, j) => planeComponent(p, j))
    val f = udf((v: Seq[Float]) => srpBucketOf(v, comps, planes))
    f(col(vecColName))
  }

  /** Scala twin of [[srpBucket]] for driver-side query vectors (identical
    * accumulation order, so planner and executor agree on the bucket) */
  def srpBucketScala(v: Seq[Float], dim: Int, planes: Int): Long =
    srpBucketOf(v, Array.tabulate(planes, dim)((p, j) => planeComponent(p, j)), planes)

  private def srpBucketOf(v: Seq[Float], comps: Array[Array[Double]], planes: Int): Long = {
    // fail fast on a dim mismatch: a truncated projection would silently
    // bucket build-time and probe-time vectors differently and recall
    // would collapse with nothing in logs to catch it
    require(comps.length == 0 || v.size >= comps(0).length,
      s"vector dim ${v.size} < configured dim ${comps(0).length}")
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var j = 0
      val row = comps(p)
      while (j < row.length) { s += v(j) * row(j); j += 1 }
      if (s > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  // ---- IVF (inverted-file) ANN: k-means coarse quantizer + probed lists ----

  /** An IVF index: each vector assigned to its nearest centroid's list.
    * `assignments` is persistable (and at 100 TB would be WRITTEN partitioned
    * by `list_id`, so a probe reads only nProbe partitions); centroids are a
    * tiny driver-side array (broadcast implicitly as literals). */
  final case class IvfIndex(assignments: DataFrame, centroids: Array[Array[Float]])

  /** build the IVF index with MLlib KMeans (fixed seed → deterministic) */
  def buildIvf(df: DataFrame, idCol: String, vecColName: String,
               nLists: Int, seed: Long = 42L): IvfIndex =
    buildIvfCols(df, Seq(idCol), vecColName, nLists, seed)

  /** Exact distinct-vector count (hash-based: one shuffle of longs, the
    * vectors themselves never move). Spark 4.1's blockified KMeans throws
    * AIOOBE when kmeans|| init collapses to fewer distinct centers than k
    * (observed: 60 rows / 3 distinct dim-64 vectors, k=16), and
    * low-distinct corpora are ROUTINE in dedup work (boilerplate shards) —
    * so the KMeans entry points below clamp k to this count. k ≤ distinct
    * is always safe, and an index never needs more lists than distinct
    * points anyway. */
  private def distinctCount(df: DataFrame, c: Column): Long =
    df.select(xxhash64(c).as("_h")).distinct().count()

  /** Corpus size above which the coarse quantizer trains on a bounded
    * seeded SAMPLE instead of the full frame (the standard IVF recipe —
    * FAISS trains IVF coarse quantizers on ≤256 points/centroid samples).
    * k-means|| init makes several full passes over the training frame and
    * each of the 20 Lloyd iterations is another; at IngestStress scale
    * (1.36–2.7M cached vectors) that init was the ingest pipeline's last
    * straggler (~11–16 s max task, r16 VERDICT). Fitting on ≤256k vectors
    * makes training cost corpus-size-INDEPENDENT; the full corpus then
    * pays exactly one nearest-centroid assignment pass. Recall is the
    * contract, not centroid identity — the ann_ivf_store_probe recall
    * gates hold under the sampled fit (spec-pinned). */
  val IvfFitSampleCap = 262144

  /** [[buildIvf]] generalized to carry several id columns through the
    * assignment (the chunk table keys on (filePath, chunkIndex)).
    * `rowCount` lets a caller that already counted (AnnIndexStore.rebuild)
    * skip the extra pass that decides full-fit vs sampled-fit. */
  def buildIvfCols(df: DataFrame, idCols: Seq[String], vecColName: String,
                   nLists: Int, seed: Long = 42L,
                   rowCount: Option[Long] = None,
                   fitSampleCap: Int = IvfFitSampleCap): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val distinct = distinctCount(df, col(vecColName))
    if (distinct <= 1L || nLists <= 1) {
      // degenerate corpus (≤1 distinct vector) or a single requested list:
      // nothing to train — one list holding everything, its centroid the
      // (single) vector value
      val assigned = df.select(
        idCols.map(col) ++ Seq(col(vecColName), lit(0).as("list_id")): _*)
      val centroid = df.select(vecColName).head().getSeq[Float](0).toArray
      return IvfIndex(assigned, Array(centroid))
    }
    val k = math.min(nLists.toLong, distinct).toInt
    val n = rowCount.getOrElse(df.count())
    if (n > fitSampleCap) {
      // sampled fit: train on a seeded ~cap-row sample (deterministic),
      // assign the FULL corpus against the fitted centroids in one pass —
      // assignToLists implements KMeansModel.transform's argmin rule, so
      // the assignment matches what transform would produce for these
      // centroids. The 1.05 overshoot keeps the realized sample near the
      // cap despite Bernoulli variance.
      val frac = math.min(1.0, fitSampleCap * 1.05 / n)
      val sampleVecs = df.select(col(vecColName))
        .sample(withReplacement = false, frac, seed)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // re-clamp k on the SAMPLE: a heavily-duplicated corpus (dedup
        // workloads) can have full-distinct ≥ k but sample-distinct < k,
        // which trips the blockified-KMeans AIOOBE the full-fit clamp
        // exists for. Cheap — one hash shuffle over ≤~275k rows.
        val kFit = math.min(k.toLong,
          math.max(1L, distinctCount(sampleVecs, col(vecColName)))).toInt
        if (kFit <= 1) {
          val assigned = df.select(
            idCols.map(col) ++ Seq(col(vecColName), lit(0).as("list_id")): _*)
          val centroid = df.select(vecColName).head().getSeq[Float](0).toArray
          return IvfIndex(assigned, Array(centroid))
        }
        val model = new KMeans().setK(kFit).setSeed(seed).setMaxIter(20)
          .setFeaturesCol("features")
          .fit(sampleVecs.withColumn("features", array_to_vector(col(vecColName))))
        val centroids = model.clusterCenters.map(_.toArray.map(_.toFloat))
        val assigned = assignToLists(df, vecColName, centroids)
          .select(idCols.map(col) ++ Seq(col(vecColName), col("list_id")): _*)
        IvfIndex(assigned, centroids)
      } finally sampleVecs.unpersist()
    } else {
      val featDf = df.withColumn("features", array_to_vector(col(vecColName)))
      val model = new KMeans().setK(k).setSeed(seed).setMaxIter(20)
        .setFeaturesCol("features").fit(featDf)
      val assigned = model.transform(featDf)
        .select(idCols.map(col) ++ Seq(col(vecColName), col("prediction").as("list_id")): _*)
      IvfIndex(assigned, model.clusterCenters.map(_.toArray.map(_.toFloat)))
    }
  }

  /** nearest-centroid assignment against FIXED centroids (squared-L2 argmin,
    * first-min tie — KMeansModel.transform's rule): the incremental-refresh
    * twin of [[buildIvfCols]], used when one path bucket's vectors change and
    * re-training the coarse quantizer would rewrite every list */
  def assignToLists(df: DataFrame, vecColName: String,
                    centroids: Array[Array[Float]]): DataFrame = {
    val f = udf { (v: Seq[Float]) =>
      var best = 0; var bd = Double.MaxValue; var i = 0
      while (i < centroids.length) {
        val c = centroids(i); var s = 0.0; var j = 0
        while (j < c.length) { val d = v(j) - c(j); s += d * d; j += 1 }
        if (s < bd) { bd = s; best = i }
        i += 1
      }
      best
    }
    df.withColumn("list_id", f(col(vecColName)))
  }

  /** query: rank centroids by distance to the query (driver-side, tiny),
    * probe the nearest `nProbe` lists, brute-force rerank within them */
  def ivfTopK(idx: IvfIndex, idCol: String, vecColName: String,
              queryVec: Array[Float], nProbe: Int, k: Int): DataFrame = {
    def dist2(c: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = c(i) - queryVec(i); s += d * d; i += 1 }
      s
    }
    val probeLists = idx.centroids.zipWithIndex
      .sortBy { case (c, i) => (dist2(c), i) }.take(nProbe).map(_._2)
    val qv = typedLit(queryVec.toSeq)
    idx.assignments
      .filter(col("list_id").isin(probeLists.map(Integer.valueOf): _*))
      .withColumn("score", VectorSearch.dotDistance(col(vecColName), qv))
      .orderBy(col("score"), col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  // ---- Product quantization: memory-efficient ANN codes ----

  /** A PQ index: each vector stored as `m` small centroid ids (here m×4
    * bits-ish instead of dim×32-bit floats — the compression that lets a
    * billion-vector index live in executor memory). Codebooks are tiny
    * driver-side arrays; codes are a persistable DataFrame. */
  final case class PqIndex(codes: DataFrame,
                           codebooks: Array[Array[Array[Float]]], // m × k × subdim
                           m: Int, dim: Int)

  /** Train per-subvector KMeans codebooks (deterministic seed) and encode
    * every vector as its nearest-centroid id per block.
    *
    * Lineage shape (r16, the AnnIndexStore.rebuild lesson): each block's
    * model depends only on its own SLICE of the base vectors, so the m
    * fits train independently off ONE persisted slim projection — the old
    * chained-`cur` shape made fit b's init sampling and 20 iterations
    * recompute blocks 0..b-1's transforms every pass (O(m²) lineage). The
    * code assembly chains the transforms AFTER all fits: per-row
    * projections over a single scan. */
  def buildPq(df: DataFrame, idCol: String, vecColName: String, dim: Int,
              m: Int = 4, k: Int = 16, seed: Long = 42L): PqIndex = {
    import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
    import org.apache.spark.ml.functions.array_to_vector
    require(dim % m == 0, "dim must divide into m blocks")
    val sub = dim / m
    val slim = df.select(col(idCol), col(vecColName))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codebooks = new Array[Array[Array[Float]]](m)
    val fitted = new Array[Option[KMeansModel]](m)
    try {
      for (b <- 0 until m) {
        val sliceExpr = expr(s"slice($vecColName, ${b * sub + 1}, $sub)")
        // same distinct-clamp as buildIvfCols: a low-variance subvector
        // block (constant dims are common in hashed/padded embeddings)
        // would otherwise crash the blockified KMeans when distinct < k
        val distinct = distinctCount(slim, sliceExpr)
        if (distinct <= 1L) {
          codebooks(b) = Array(
            slim.select(sliceExpr.as("_s")).head().getSeq[Float](0).toArray)
          fitted(b) = None
        } else {
          val kb = math.min(k.toLong, distinct).toInt
          val withFeat = slim.withColumn(s"_pq_feat_$b", array_to_vector(sliceExpr))
          val model = new KMeans().setK(kb).setSeed(seed + b).setMaxIter(20)
            .setFeaturesCol(s"_pq_feat_$b").setPredictionCol(s"_pq_code_$b")
            .fit(withFeat)
          codebooks(b) = model.clusterCenters.map(_.toArray.map(_.toFloat))
          fitted(b) = Some(model)
        }
      }
    } finally slim.unpersist(blocking = true)
    var cur = df.select(col(idCol), col(vecColName))
    for (b <- 0 until m) fitted(b) match {
      case Some(model) =>
        cur = model.transform(cur.withColumn(s"_pq_feat_$b",
            array_to_vector(expr(s"slice($vecColName, ${b * sub + 1}, $sub)"))))
          .drop(s"_pq_feat_$b")
      case None => cur = cur.withColumn(s"_pq_code_$b", lit(0))
    }
    val codes = cur.select(col(idCol),
      array((0 until m).map(b => col(s"_pq_code_$b")): _*).as("pq_code"))
    PqIndex(codes, codebooks, m, dim)
  }

  /** ANN top-k by asymmetric distance: the query precomputes a per-block
    * distance table to every centroid (driver-side, m×k doubles), and each
    * stored vector's approximate distance is m table lookups — no float
    * vector is ever read at query time. */
  def pqTopK(idx: PqIndex, idCol: String, queryVec: Array[Float], kTop: Int): DataFrame = {
    val sub = idx.dim / idx.m
    // distance table: squared L2 from the query subvector to each centroid
    val table: Array[Array[Double]] = Array.tabulate(idx.m) { b =>
      idx.codebooks(b).map { c =>
        var s = 0.0; var j = 0
        while (j < sub) { val d = queryVec(b * sub + j) - c(j); s += d * d; j += 1 }
        s
      }
    }
    val dist = (0 until idx.m).map { b =>
      element_at(typedLit(table(b).toSeq), col("pq_code").getItem(b) + 1)
    }.reduce(_ + _)
    idx.codes.withColumn("approx_dist", dist)
      .orderBy(col("approx_dist"), col(idCol))
      .limit(kTop)
      .select(col(idCol), round(col("approx_dist"), 4).as("approx_dist"))
  }

  /** Cluster-balanced selection (one deterministic Lloyd round from fixed
    * seeds, then the `perCluster` most-central members of every cluster) —
    * the D4-style "diversify by topic cluster, keep prototypes" data-
    * selection shape, built so a SQL oracle can replay it exactly:
    *
    *  - seeds = the `k` vectors with the smallest ids (at 100 TB this
    *    would be a seeded sample; a FIXED rule keeps it oracle-replayable);
    *  - assignment = squared-L2 argmin, distance quantized HALF_UP at 1e-6
    *    BEFORE the argmin, first-min tie to the smaller cluster id —
    *    quantizing kills cross-engine float-sum association drift;
    *  - new centroid = per-dimension mean, quantized at 1e-6 (empty
    *    cluster keeps its quantized seed);
    *  - final pick: rank members by (quantized distance, id).
    *
    * Scale shape: centroids are k×dim driver-side (bounded, broadcast as
    * literals); both assignment passes are per-row map work; the only
    * shuffles are the k×dim-row mean aggregate and the per-cluster rank
    * window — nothing quadratic, nothing driver-side that grows with n. */
  private def q6(x: Double): Double = // HALF_UP like Spark SQL / DuckDB round()
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** squared-L2 argmin against fixed centroids, distance quantized HALF_UP
    * at 1e-6 BEFORE the argmin (kills cross-engine float-sum association
    * drift), first-min tie to the smaller centroid id — the shared
    * assignment rule of every oracle-replayable clustering path here */
  private def assignQ6(cents: Array[Array[Double]]) = udf { (v: Seq[Float]) =>
    var best = 0; var bd = Double.MaxValue; var i = 0
    while (i < cents.length) {
      val c = cents(i); var s = 0.0; var j = 0
      while (j < c.length) { val dd = v(j) - c(j); s += dd * dd; j += 1 }
      val r = q6(s)
      if (r < bd) { bd = r; best = i }
      i += 1
    }
    (best, bd)
  }

  /** One deterministic Lloyd round from fixed seeds (the `k` smallest-id
    * vectors), centroid components quantized at 1e-6, empty clusters
    * keeping their quantized seed — the SQL-replayable quantizer shared by
    * [[clusterSelect]] and the seeded IVF/PQ twins. */
  private[graft] def lloydRoundCentroids(df: DataFrame, idCol: String,
                                         vecColName: String,
                                         k: Int): Array[Array[Double]] = {
    val seeds: Array[Array[Double]] = df.orderBy(col(idCol)).limit(k)
      .select(vecColName).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(seeds.nonEmpty, "need at least one vector to seed centroids")
    val a0 = df.withColumn("_a", assignQ6(seeds)(col(vecColName)))
      .select(col(idCol), col(vecColName), col("_a._1").as("cluster"))
    val means = a0
      .select(col("cluster"), posexplode(col(vecColName)).as(Seq("pos", "v")))
      .groupBy("cluster", "pos").agg(avg(col("v").cast("double")).as("m"))
      .collect() // ≤ k × dim rows — bounded by construction
    val c1: Array[Array[Double]] = seeds.map(_.map(q6)) // empty-cluster fallback
    means.foreach { r =>
      c1(r.getInt(0))(r.getInt(1)) = q6(r.getDouble(2))
    }
    c1
  }

  def clusterSelect(df: DataFrame, idCol: String, vecColName: String,
                    k: Int, perCluster: Int): DataFrame = {
    val c1 = lloydRoundCentroids(df, idCol, vecColName, k)
    val ranked = df.withColumn("_a", assignQ6(c1)(col(vecColName)))
      .select(col(idCol), col("_a._1").as("cluster"), col("_a._2").as("dist"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(col("dist"), col(idCol))
    val wc = org.apache.spark.sql.expressions.Window.partitionBy("cluster")
    ranked
      .withColumn("pick_rank", row_number().over(w))
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .filter(col("pick_rank") <= perCluster)
      .select(col("cluster").cast("long").as("cluster"), col("pick_rank"),
        col(idCol), (col("dist") + 0.0).as("dist"), col("cluster_size"))
  }

  /** Deterministic (oracle-replayable) IVF twin of [[buildIvf]]: fixed
    * smallest-id seeds + one quantized Lloyd round ([[lloydRoundCentroids]]),
    * assignment by the shared q6 argmin. The MLlib-trained builder remains
    * the production quantizer (recall-gated in specs); this twin exists so
    * the assign→probe CHAIN is pinned by a SQL hash, not just a recall
    * floor. Returns (assignments with `list_id`, centroids). */
  def buildIvfSeeded(df: DataFrame, idCol: String, vecColName: String,
                     nLists: Int): (DataFrame, Array[Array[Double]]) = {
    val c1 = lloydRoundCentroids(df, idCol, vecColName, nLists)
    val assigned = df.withColumn("_a", assignQ6(c1)(col(vecColName)))
      .select(col(idCol), col(vecColName), col("_a._1").as("list_id"))
    (assigned, c1)
  }

  /** probe of the seeded index: centroids ranked by q6-quantized squared
    * L2 to the query (ties to the smaller list id), the nearest `nProbe`
    * lists brute-force reranked by dot distance — same probe shape as
    * [[ivfTopK]], every comparison SQL-replayable */
  def ivfTopKSeeded(assignments: DataFrame, centroids: Array[Array[Double]],
                    idCol: String, vecColName: String,
                    queryVec: Array[Float], nProbe: Int, k: Int): DataFrame = {
    def dist2(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < c.length) { val d = queryVec(i) - c(i); s += d * d; i += 1 }
      q6(s)
    }
    val probeLists = centroids.zipWithIndex
      .sortBy { case (c, i) => (dist2(c), i) }.take(nProbe).map(_._2)
    val qv = typedLit(queryVec.toSeq)
    assignments
      .filter(col("list_id").isin(probeLists.map(Integer.valueOf): _*))
      .withColumn("score", VectorSearch.dotDistance(col(vecColName), qv))
      .orderBy(col("score"), col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** seeded PQ index: per-block codebooks from one quantized Lloyd round */
  final case class PqSeeded(codes: DataFrame,
                            codebooks: Array[Array[Array[Double]]], // m × k × sub
                            m: Int, dim: Int)

  /** Deterministic PQ twin of [[buildPq]]: per block, seeds = the k
    * smallest-id SUBVECTORS, one q6-quantized Lloyd round, codes by the
    * q6 argmin — the whole codebook-assignment phase SQL-replayable. */
  def buildPqSeeded(df: DataFrame, idCol: String, vecColName: String,
                    dim: Int, m: Int, k: Int): PqSeeded = {
    require(dim % m == 0, "dim must divide into m blocks")
    val sub = dim / m
    val seedRows = df.orderBy(col(idCol)).limit(k)
      .select(vecColName).collect().map(_.getSeq[Float](0).toArray)
    require(seedRows.nonEmpty, "need at least one vector to seed codebooks")
    val seeds: Array[Array[Array[Double]]] =
      Array.tabulate(m, seedRows.length, sub)((b, c, j) =>
        seedRows(c)(b * sub + j).toDouble)
    def assignAll(cb: Array[Array[Array[Double]]]) = udf { (v: Seq[Float]) =>
      Array.tabulate(m) { b =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < cb(b).length) {
          var s = 0.0; var j = 0
          while (j < sub) { val d = v(b * sub + j) - cb(b)(c)(j); s += d * d; j += 1 }
          val r = q6(s)
          if (r < bd) { bd = r; best = c }
          c += 1
        }
        best
      }
    }
    val a0 = df.withColumn("_c0", assignAll(seeds)(col(vecColName)))
    val means = a0
      .select(col("_c0"), posexplode(col(vecColName)).as(Seq("gpos", "v")))
      .withColumn("b", (col("gpos") / sub).cast("int"))
      .withColumn("cid", element_at(col("_c0"), col("b") + 1))
      .groupBy(col("b"), col("cid"), (col("gpos") % sub).as("pos"))
      .agg(avg(col("v").cast("double")).as("m"))
      .collect() // ≤ m × k × sub rows — bounded by construction
    val c1 = seeds.map(_.map(_.map(q6)))
    means.foreach { r =>
      c1(r.getInt(0))(r.getInt(1))(r.getInt(2)) = q6(r.getDouble(3))
    }
    val codes = df.withColumn("_c", assignAll(c1)(col(vecColName)))
      .select(col(idCol), col("_c").as("pq_code"))
    PqSeeded(codes, c1, m, dim)
  }

  /** asymmetric-distance top-k over the seeded codes: per-block q6 lookup
    * table, sum-of-lookups re-quantized at 1e-6 so both engines order the
    * exact same values (each term is a 1e-6 multiple; the rounded sum is
    * therefore exact) */
  def pqTopKSeeded(idx: PqSeeded, idCol: String, queryVec: Array[Float],
                   kTop: Int): DataFrame = {
    val sub = idx.dim / idx.m
    val table: Array[Array[Double]] = Array.tabulate(idx.m) { b =>
      idx.codebooks(b).map { c =>
        var s = 0.0; var j = 0
        while (j < sub) { val d = queryVec(b * sub + j) - c(j); s += d * d; j += 1 }
        q6(s)
      }
    }
    val raw = (0 until idx.m).map { b =>
      element_at(typedLit(table(b).toSeq), col("pq_code").getItem(b) + 1)
    }.reduce(_ + _)
    idx.codes.withColumn("approx_dist", round(raw, 6))
      .orderBy(col("approx_dist"), col(idCol))
      .limit(kTop)
      .select(col(idCol),
        (round(col("approx_dist"), 4) + 0.0).as("approx_dist"))
  }

  /** ADC distances of EVERY code row against a bounded query set in ONE
    * map-side pass: per query, the m×k lookup table is computed driver-side
    * (m·k·sub doubles — bounded by construction) and applied as a literal
    * expression, so the whole approximate-distance sweep is scan +
    * explode(nQueries) with zero shuffles. Each per-block term is q6 (a
    * 1e-6 multiple), so the rounded sum is exact on both engines — the
    * evaluation shape `v_recall_pq` replays in SQL. */
  def pqAdcScores(idx: PqSeeded, idCol: String,
                  queries: Seq[(Long, Array[Float])]): DataFrame = {
    require(queries.nonEmpty, "need at least one query vector")
    val sub = idx.dim / idx.m
    val perQuery = queries.map { case (qid, qv) =>
      require(qv.length == idx.dim, s"query dim ${qv.length} != index dim ${idx.dim}")
      val table = Array.tabulate(idx.m) { b =>
        idx.codebooks(b).map { c =>
          var s = 0.0; var j = 0
          while (j < sub) { val d = qv(b * sub + j) - c(j); s += d * d; j += 1 }
          q6(s)
        }
      }
      val raw = (0 until idx.m).map { b =>
        element_at(typedLit(table(b).toSeq), col("pq_code").getItem(b) + 1)
      }.reduce(_ + _)
      struct(lit(qid).as("query_id"), round(raw, 6).as("ad"))
    }
    idx.codes
      .select(col(idCol), explode(array(perQuery: _*)).as("q"))
      .select(col("q.query_id"), col(idCol), col("q.ad"))
  }

  /** LSH-blocked near-dup pairs: candidate pairs limited to equal SRP
    * buckets — the linear-ish scale path next to the exact quadratic pair
    * join (recall bounded by bucket collision probability; raise recall by
    * unioning over several plane seeds). */
  def lshBlockedPairs(df: DataFrame, idCol: String, vecColName: String,
                      dim: Int, planes: Int, threshold: Double): DataFrame = {
    import graft.search.VectorSearch.dot
    val bucketed = df
      .withColumn("bucket", srpBucket(vecColName, dim, planes))
      .withColumn("nrm", sqrt(dot(col(vecColName), col(vecColName))))
    val l = bucketed.select(col("bucket"), col(idCol).as("id_a"),
      col(vecColName).as("v_a"), col("nrm").as("n_a"))
    val r = bucketed.select(col("bucket"), col(idCol).as("id_b"),
      col(vecColName).as("v_b"), col("nrm").as("n_b"))
    l.join(r, "bucket").filter(col("id_a") < col("id_b"))
      .withColumn("cos", round(dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")), 4))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
